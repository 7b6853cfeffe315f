"""Operator suite: every named query the engine supports.

Importing this package populates the registry (``QUERIES`` / ``ORACLES``)
used by ``__spark_entry__.py``. Modules:

* ``relational``      — scans, filters, joins, aggregations, windows,
  sorts, set ops, scalar-function families, UDFs (SURVEY.md §2 Layer B)
* ``extras``          — rename/compute, percentiles, UDAF/UDTF, subqueries
* ``tpch_more`` / ``tpch_more2`` / ``tpch_more3`` — the TPC-H analogue
  suite (q1-q22 where the fixture has the tables)
* ``semistructured``  — map ops, from_json structs, array explode
* ``timeseries``      — as-of / range joins, sessionization,
  tumbling/sliding windows over the events table
* ``dedup``           — exact, fingerprint, MinHash-LSH, SimHash,
  two-stage token/n-gram Jaccard (portable md5-62bit hash family)
* ``similarity``      — embedding norms, brute-force cosine top-k, LSH
  buckets, IVF, multi-probe
* ``text``            — token stats, language-ID heuristic, quality
  scores, rolling-hash fingerprinting
* ``multimodal``      — binary-column plumbing with stubbed decoders
* ``pipeline``        — composed funnels (quality filter, dedup
  survivors, label centroids) staged through the cache engine
* ``scale``           — salted joins, bucketed writes, distributed
  global percentiles
"""
from .registry import ORACLES, QUERIES, register  # noqa: F401

from . import relational  # noqa: E402,F401
from . import extras  # noqa: E402,F401
from . import tpch_more  # noqa: E402,F401
from . import semistructured  # noqa: E402,F401
from . import tpch_more2  # noqa: E402,F401
from . import tpch_more3  # noqa: E402,F401
from . import tpch_partsupp  # noqa: E402,F401
from . import pipeline  # noqa: E402,F401
from . import scale  # noqa: E402,F401
from . import timeseries  # noqa: E402,F401
from . import dedup  # noqa: E402,F401
from . import similarity  # noqa: E402,F401
from . import text  # noqa: E402,F401
from . import multimodal  # noqa: E402,F401
from . import training  # noqa: E402,F401
from . import source_scans  # noqa: E402,F401
from . import analytics2  # noqa: E402,F401
from . import corpus_analytics  # noqa: E402,F401

# Imported LAST: registration order is the rotation tie-break, and the
# three round-8 queries register behind every other module's.
from . import pending_r8  # noqa: E402,F401
