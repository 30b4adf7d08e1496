"""Flight-analytics domain layer — full reference parity (SURVEY.md §2/§3).

Pipeline mirror of the reference, re-architected Spark-first:

  raw BTS CSVs → clean (ETL, E1) → star schema (E2 step A) → wide view →
  pre-aggregated caches (E2 step B) → serving queries (E3)

Modules: schemas (the raw CSVs' StructType), seeds (airline names + hub
coords), io (sources/sinks, the driver's tables, the caches' columns),
clean (P1-P8), star (S8/U1/U3), views (J1-J4), agg (A1-A4/P10/J5), serve
(A5-A11/P9/P11).
"""
