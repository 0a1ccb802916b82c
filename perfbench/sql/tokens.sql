-- enrichTokens: each token document's hourly volume and transfer-count
-- logs equal DuckDB's hourly aggregates (volume as an exact DECIMAL(25,2)
-- sum, then DOUBLE).
-- Columns: missing expected rows, unexpected rows, duplicate keys.
WITH ev AS (SELECT * FROM read_parquet('@EVENTS@')),
t AS (
  SELECT event_type AS contract_address, value,
         epoch_ns(ts) // 1000000000 AS transact_at
  FROM ev
),
expected AS (
  SELECT contract_address, CAST(floor(transact_at / 3600) AS BIGINT) * 3600 AS t,
         CAST(SUM(CAST(value AS DECIMAL(25,2))) AS DOUBLE) AS volume,
         count(*) AS n
  FROM t GROUP BY 1, 2
),
doc AS (SELECT * FROM read_parquet('@STORE@/*.parquet')),
vol AS (
  SELECT _key AS contract_address,
         unnest(map_keys(tradingVolumeChangeLogs)) AS t,
         unnest(map_values(tradingVolumeChangeLogs)) AS volume
  FROM doc
),
cnt AS (
  SELECT _key AS contract_address,
         unnest(map_keys(numberOfTransferChangeLogs)) AS t,
         unnest(map_values(numberOfTransferChangeLogs)) AS n
  FROM doc
),
got AS (
  SELECT contract_address, t, volume, n
  FROM vol FULL OUTER JOIN cnt USING (contract_address, t)
)
SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM got)),
       (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM expected)),
       (SELECT count(*) - count(DISTINCT _key) FROM doc)
