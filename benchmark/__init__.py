"""Seeded, oracle-checked benchmark of the rsgislib_spark engine."""
