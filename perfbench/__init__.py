"""Product-path benchmark for dupers_spark (see README.md in this directory)."""
