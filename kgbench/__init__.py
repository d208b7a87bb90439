"""Layered benchmark of the shipped KG-construction DAG (see run.py)."""
