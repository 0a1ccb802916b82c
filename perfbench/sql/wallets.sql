-- enrichWallets: one document per (token, wallet) whose last balance-log
-- entry equals the double-entry sum of that wallet's transfers (exact
-- DECIMAL(25,2) sum, then DOUBLE, as the program computes it).
-- Columns: missing expected rows, unexpected rows, duplicate keys.
WITH ev AS (SELECT * FROM read_parquet('@EVENTS@')),
t AS (
  SELECT CAST(user_id AS VARCHAR) AS from_address,
         CAST((user_id * 7 + event_id) % 1000 AS VARCHAR) AS to_address,
         event_type AS contract_address, value
  FROM ev
),
legs AS (
  SELECT contract_address, from_address AS address, -value AS delta FROM t
  UNION ALL
  SELECT contract_address, to_address AS address, value AS delta FROM t
),
expected AS (
  SELECT contract_address || '_' || address AS _key, address,
         CAST(SUM(CAST(delta AS DECIMAL(25,2))) AS DOUBLE) AS balance
  FROM legs GROUP BY contract_address, address
),
got AS (
  SELECT _key, address,
         map_extract(balanceChangeLogs,
                     list_max(map_keys(balanceChangeLogs)))[1].balance AS balance
  FROM read_parquet('@STORE@/*.parquet')
)
SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM got)),
       (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM expected)),
       (SELECT count(*) - count(DISTINCT _key) FROM got)
