"""Layered benchmark of the tileigi_spark tile engine (see run.py)."""
