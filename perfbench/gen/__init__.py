"""Seeded input generators, one per workload.

Each generator writes every file a workload reads into one directory and
returns a small dict describing what it wrote. The same seed and sizes
always give byte-identical files: all randomness comes from one
``numpy.random.Generator`` seeded by the caller, CSVs are formatted by
hand, and parquet files carry no wall-clock metadata.
"""
