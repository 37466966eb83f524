"""Layered benchmark of the Spark rebuild; see README.md."""
