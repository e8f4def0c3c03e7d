"""Repository benchmark: seeded ETL and table-maintenance workloads (see run.py)."""
