-- materialized: view
-- Port of bread dbt/models/parsed/log_attributes.sql:1 (DIVERGENCES.md #9).
select * from {{ source("parsed", "log_attributes") }}
