"""Layered benchmark of the Samsara engine; see run.py."""
