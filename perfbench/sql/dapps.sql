-- enrichDapps: one document per (token, dapp) with the sorted distinct
-- wallets that touched the dapp's addresses and the number of transfer
-- legs that did. The dapp registry is written out here, not read from the
-- program.
-- Columns: missing expected rows, unexpected rows, duplicate keys.
WITH ev AS (SELECT * FROM read_parquet('@EVENTS@')),
t AS (
  SELECT CAST(user_id AS VARCHAR) AS from_address,
         CAST((user_id * 7 + event_id) % 1000 AS VARCHAR) AS to_address,
         event_type AS contract_address
  FROM ev
),
legs AS (
  SELECT contract_address, from_address AS address FROM t
  UNION ALL
  SELECT contract_address, to_address AS address FROM t
),
reg AS (
  SELECT dapp_id, dapp_name, unnest(addresses) AS address
  FROM (VALUES
    ('d01', 'AlphaSwap', ['1', '8', '15', '103', '204', '305', '406']),
    ('d02', 'BetaLend', ['22', '33', '44', '155', '266', '377', '488']),
    ('d03', 'GammaNft', ['5', '55', '505', '550', '555']),
    ('d04', 'DeltaDao', ['7', '77', '177', '277', '777', '877', '977']),
    ('d05', 'EpsBridge', ['12', '120', '212', '312', '412', '512', '612', '712'])
  ) r(dapp_id, dapp_name, addresses)
),
expected AS (
  SELECT contract_address || '_' || dapp_id AS _key, dapp_id AS idCMC,
         dapp_name AS name,
         array_to_string(list_sort(list(DISTINCT address)), ',') AS address,
         count(*) AS n_interactions
  FROM legs JOIN reg USING (address)
  GROUP BY contract_address, dapp_id, dapp_name
),
got AS (
  SELECT _key, idCMC, name, array_to_string(address, ',') AS address,
         n_interactions
  FROM read_parquet('@STORE@/*.parquet')
)
SELECT (SELECT count(*) FROM (SELECT * FROM expected EXCEPT ALL SELECT * FROM got)),
       (SELECT count(*) FROM (SELECT * FROM got EXCEPT ALL SELECT * FROM expected)),
       (SELECT count(*) - count(DISTINCT _key) FROM got)
