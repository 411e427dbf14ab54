"""Headline query plans shared by the driver entry point, tests, and bench."""

# Importing the facade first makes the segments register in its order,
# whichever plans module a caller imports first.
from . import queries  # noqa: F401
