"""Validation benchmark for katydid_haskell_spark; see README.md."""
