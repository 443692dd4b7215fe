-- materialized: view
-- Port of bread dbt/models/parsed/blocks.sql:1 — the parsed zone's blocks,
-- hive partitions (year=/month=/day=) recovered as string columns. A view
-- over the zone snapshot the pipeline binds, not a dbt table copy
-- (DIVERGENCES.md #9).
select * from {{ source("parsed", "blocks") }}
