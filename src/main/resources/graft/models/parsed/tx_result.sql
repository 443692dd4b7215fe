-- materialized: view
-- Port of bread dbt/models/parsed/tx_result.sql:1 (DIVERGENCES.md #9).
select * from {{ source("parsed", "tx_result") }}
