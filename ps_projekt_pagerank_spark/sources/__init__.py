"""Sources & sinks (SURVEY.md §2.1).

- snap:        S1 SNAP edge-list text scan
- edges:       edge DataFrames from in-memory fixtures / derived tables
- pages:       synthetic Common-Crawl-style pages table generator
- extraction:  S4 pages→edges + text via vectorized Arrow/pandas UDFs
- tripler:     S3 deterministic 3x graph scale-up
- checkpoint:  S5 iteration checkpoint write/read (parquet snapshots)
"""
