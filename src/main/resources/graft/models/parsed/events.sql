-- materialized: view
-- Port of bread dbt/models/parsed/events.sql:1-2 ("ran in 14 seconds when
-- ran alone" — the reference's only published model timing, BASELINE.md).
-- A view over the zone snapshot, not a table copy (DIVERGENCES.md #9).
select * from {{ source("parsed", "events") }}
