"""Spatial-join + tiling benchmark for whitebox_tools_spark (see README.md)."""
