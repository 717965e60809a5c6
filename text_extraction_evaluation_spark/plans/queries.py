"""Oracle-checked query registry (driver contract, __spark_entry__.py).

Every SQL-expressible operator from SURVEY.md §2 — plus the
training-data-pipeline operators (dedup exact/MinHash-LSH/SimHash/
n-gram-Jaccard, similarity search, text quality/token stats,
fingerprinting) — gets a Spark DataFrame implementation AND an
ANSI-SQL twin the driver runs through DuckDB at sf0.01. The
implementations live in the topic modules (each query function
directly above/below its SQL twin, so the pair stays in sync):

* ``plans.common``       — shared helpers (_t, _docs_par, stopword SQL)
* ``plans.q_relational`` — star-schema battery (SURVEY.md §2.2/2.4-2.7)
* ``plans.q_corpus``     — text stats + every dedup tier
* ``plans.q_nlp``        — TF-IDF/TextRank, decontamination, mixtures,
  vocabulary and stopword statistics
* ``plans.q_embedding``  — embedding ANN (brute force, IVF, PQ),
  specialty joins, TPC-H tail, lang-ID and sampling
* ``plans.q_extraction`` — extraction-family gates + profiling/pivot
* ``plans.q_webtext``    — crawl/host/URL/layout operators

Cross-engine determinism rules used throughout:
* money/quantity aggregates leave the query as exact integer units
  (cents / scale-4 / ppm BIGINTs) wherever a consumer can rescale;
  a raw ``cast("double")`` aggregate output is banned — round 3's one
  exception (q19) was the round's one driver hash mismatch;
* the DOUBLE columns that remain are quotients/ratios pinned with
  ``round(x, 6)`` of exact-integer numerators/denominators, and the
  oracle gates (pytest at sf0.001, scripts/sweep_oracle.py at sf0.01)
  compare ALL float columns bitwise (IEEE-754 bits), so any
  engine-order drift fails locally before the driver sees it;
* SQL twins cast HUGEINT-producing outputs (DuckDB SUM/MIN/MAX over
  integers) back to BIGINT so both engines agree on column kind;
* hash primitives are md5-hex-prefix -> bigint (identical in both
  engines), never xxhash64/murmur (engine-specific);
* every computed column is aliased identically on both sides (the
  driver's value-hash sorts columns by name).

This module is the stable import surface: it re-exports every query
function and merges the per-module registries into ``SQL_CHECKED``.
"""

from __future__ import annotations

from .q_corpus import *  # noqa: F401,F403
from .q_embedding import *  # noqa: F401,F403
from .q_extraction import *  # noqa: F401,F403
from .q_nlp import *  # noqa: F401,F403
from .q_relational import *  # noqa: F401,F403
from .q_webtext import *  # noqa: F401,F403
from . import (
    q_corpus,
    q_embedding,
    q_extraction,
    q_nlp,
    q_relational,
    q_webtext,
)


def merge_registries(*registries: dict) -> dict:
    """Merge per-module ``_REGISTRY`` dicts in argument order, refusing
    a name registered twice (a plain ``{**a, **b}`` would let the later
    module silently win)."""
    merged: dict = {}
    for reg in registries:
        for name, entry in reg.items():
            if name in merged:
                raise ValueError(f"query {name!r} is registered twice")
            merged[name] = entry
    return merged


#: name -> (spark_fn, duckdb_sql), in registry order.
SQL_CHECKED = merge_registries(
    q_relational._REGISTRY,
    q_corpus._REGISTRY,
    q_embedding._REGISTRY,
    q_extraction._REGISTRY,
    q_webtext._REGISTRY,
    q_nlp._REGISTRY,
)
