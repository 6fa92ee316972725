"""CDC benchmark for the airbyte_custom_spark engine (see README.md)."""
