-- rawLoad: the transfers store holds exactly one edge row per input event.
-- Columns: missing expected rows, unexpected rows, duplicate keys.
WITH ev AS (SELECT * FROM read_parquet('@EVENTS@')),
expected AS (
  SELECT CAST(event_id % 100 AS VARCHAR) || '_' || CAST(event_id AS VARCHAR) || '_'
           || CAST(user_id AS VARCHAR) || '_'
           || CAST((user_id * 7 + event_id) % 1000 AS VARCHAR) AS _key,
         'wallets/' || CAST(user_id AS VARCHAR) AS _from,
         'wallets/' || CAST((user_id * 7 + event_id) % 1000 AS VARCHAR) AS _to,
         event_type AS contract_address,
         event_id AS block_number
  FROM ev
),
got AS (
  SELECT _key, _from, _to, contract_address, block_number
  FROM read_parquet('@STORE@/*.parquet')
)
SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM got)),
       (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM expected)),
       (SELECT count(*) - count(DISTINCT _key) FROM got)
