"""Compat-layer counters for traced runs.

The benchmark's own mapper/combiner files (``mrfunctions/``) read
``ACTIVE`` when they are loaded: a dict of Spark accumulators during a
traced pass, ``None`` otherwise (then they count nothing). The files are
loaded afresh for every job by ``compat.load_functions``, and Spark ships
the accumulators to the workers inside the pickled functions.
"""

from __future__ import annotations

NAMES = ("map_pairs", "combined_pairs")

ACTIVE = None
