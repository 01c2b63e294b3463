"""Small utilities (SURVEY.md §2.8 O4).

The reference wraps estimator calls in ``tryCatch`` rethrows
(``PC.R:221-230``); the Python analogue here is an error-context
re-raiser.
"""

from __future__ import annotations

import threading
import warnings
from contextlib import contextmanager

from pyspark.sql import SparkSession


def spread(df, min_parts: int | None = None):
    """Adaptive fan-out repartition for expansion-heavy operators (shingle
    explodes, all-pairs scoring): when the input plan has FEWER partitions
    than the cluster's parallelism — e.g. one small parquet file — the
    downstream explode/join would run on a single core no matter how many
    executors exist, because Spark can't split a partition mid-stage.

    At real scale (inputs with >= cores partitions) this is a NO-OP — no
    shuffle is added; the check is a driver-side plan inspection only.
    """
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


@contextmanager
def error_context(what: str):
    """Re-raise any failure with added context — the ``tryCatch(...,
    error = stop(paste(...)))`` pattern (``PC.R:221-230``)."""
    try:
        yield
    except Exception as e:  # noqa: BLE001
        # Don't reconstruct type(e)(...): many exception classes (Py4J, Spark
        # internals) reject a single-string constructor, which would mask the
        # original error with a TypeError.  Annotate and re-raise instead.
        e.add_note(what)
        raise


def schema_meta(df, column: str, keys: tuple) -> dict | None:
    """Read the metadata keys stamped on ``column`` by a sketch builder
    (None for a table of unknown provenance — hand-built sketch tables
    stay accepted everywhere)."""
    try:
        md = df.schema[column].metadata
    except (KeyError, TypeError):
        return None
    if md and all(k in md for k in keys):
        return {k: md[k] for k in keys}
    return None


def check_same_sketch_params(inputs, column: str, keys: tuple, op: str) -> None:
    """Raise at PLAN time when sketch tables built with different
    parameters are merged — folding incompatible layouts (different
    Bloom m/k, CMS d/w, HLL p, histogram bins) produces silent garbage,
    so builders stamp their parameters as schema metadata and every
    merge validates here (r11; the ``qhist_merge`` guard generalized)."""
    metas = [(schema_meta(s, column, keys), i) for i, s in enumerate(inputs)]
    known = [(m, i) for m, i in metas if m is not None]
    if len({tuple(sorted(m.items())) for m, _ in known}) > 1:
        detail = ", ".join(f"input[{i}]={m}" for m, i in known)
        raise ValueError(f"{op}: mismatched sketch parameters — {detail}")


def check_probe_params(sketch, column: str, expect: dict, op: str) -> None:
    """Validate a persisted/handed-in sketch table against the PROBER's
    parameters before joining probes to it (r12; ADVICE r11 medium).

    Probing at the wrong layout is the silent-wrong-answer class a
    sketch must never have: a Bloom table built under a different
    (m, k, stride format) returns false NEGATIVES; a CMS table
    undercounts.  Three cases:

    - stamped and equal to ``expect`` — ok;
    - stamped and DIFFERENT (parameters or ``*_fmt`` layout version) —
      raise at plan time: rebuild the table or fix the probe call;
    - parameter keys stamped but the ``*_fmt`` key absent — raise:
      every in-repo builder that stamped parameters without a layout
      version was pre-r11 and used the naive ``1 + h2 mod (m-1)``
      stride (layout v1), so such a table is KNOWN to answer a v2
      probe with silent false negatives — a warning is too easy to
      filter in batch runs (r13; ADVICE r12);
    - fully unstamped (no builder metadata at all — hand-built
      tables) — ``UserWarning``: the layout cannot be verified either
      way.
    """
    try:
        md = dict(sketch.schema[column].metadata or {})
    except (KeyError, TypeError):
        md = {}
    mismatched = {k: md[k] for k in expect if k in md and md[k] != expect[k]}
    if mismatched:
        raise ValueError(
            f"{op}: sketch table was built with {mismatched} but is being "
            f"probed with {expect} — rebuild the table or match the probe "
            "parameters (probing across layouts answers wrongly with no "
            "error)"
        )
    fmt_keys = [k for k in expect if k.endswith("_fmt")]
    param_keys = [k for k in expect if not k.endswith("_fmt")]
    if (
        any(k not in md for k in fmt_keys)
        and param_keys
        and all(k in md for k in param_keys)
    ):
        raise ValueError(
            f"{op}: sketch table stamps its build parameters but NO layout "
            f"version ({fmt_keys}) — every in-repo builder that did that "
            "is pre-r11 and used the v1 probe stride, so this table WILL "
            "return silent false negatives under the current prober.  "
            "Rebuild it with the current builder."
        )
    if any(k not in md for k in expect):
        warnings.warn(
            f"{op}: probing an UNSTAMPED sketch table — cannot verify its "
            f"hash layout matches this prober (expected {expect}).  Tables "
            "persisted by pre-r11 builders use a different probe stride "
            "(layout v1) and must be rebuilt with the current builder.",
            UserWarning,
            stacklevel=3,
        )


def plan_uses_cache(df) -> bool:
    """True when any subtree of ``df``'s plan is served by a cached
    (InMemoryRelation) entry — a driver-side plan inspection only.
    Used to skip redundant persists of already-cache-fed lineages
    (r16 _fit_irls; generalized r17)."""
    try:
        return "InMemoryRelation" in (
            df._jdf.queryExecution().withCachedData().toString()
        )
    except Exception:  # noqa: BLE001 — inspection is best-effort
        return False


def adaptive_coalesce(df, bytes_per_partition: int = 32 * 1024 * 1024):
    """Coalesce a frame that is about to be persisted and re-scanned by
    an iterative kernel to a DATA-PROPORTIONAL partition count.

    Every post-shuffle/persisted frame carries defaultParallelism
    partitions regardless of size, and every pass over it then pays a
    ~0.2 s fixed cost at local[32] just scheduling near-empty tasks
    (measured: the same tiny groupBy-agg runs 0.26 s on 32 partitions,
    0.07 s on 1).  Targeting ~32 MB per partition (capped at
    defaultParallelism, floored at 1) removes that floor for small
    inputs while leaving genuinely large inputs at full parallelism —
    the estimate comes from the optimizer's plan statistics, so at
    cluster scale this is a NO-OP (driver-side inspection only, no
    shuffle: coalesce only narrows).
    """
    import math

    try:
        size = int(df._jdf.queryExecution().optimizedPlan()
                   .stats().sizeInBytes())
        cap = df.sparkSession.sparkContext.defaultParallelism
        target = max(1, min(cap, math.ceil(size / bytes_per_partition)))
        if df.rdd.getNumPartitions() > target * 2:
            return df.coalesce(target)
    except Exception:  # noqa: BLE001 — inspection is best-effort
        pass
    return df


def local_df(spark: SparkSession, rows, schema):
    """Driver-literal DataFrame WITHOUT the Python-RDD scan.

    ``spark.createDataFrame(list, schema)`` parallelizes the rows into a
    PYTHON RDD with ``defaultParallelism`` slices: every evaluation of
    the frame — each broadcast-join pass of an iterative kernel, each
    ``collect()`` of a literal result row — launches that many Python
    worker tasks (measured ~0.6 s per broadcast pass at local[32], and
    ~15 s for a CartesianProduct of two such 1-row frames: 32 x 32
    Python tasks).  Routing the same rows through ONE Arrow batch
    instead yields a single-partition JVM-backed frame whose evaluation
    never touches a Python worker — identical values, identical schema
    (field nullability copied from ``schema``).

    Falls back to ``createDataFrame(rows, schema)`` for types the Arrow
    writer cannot take (or on any conversion error) — correctness never
    depends on the fast path.
    """
    rows = list(rows)
    try:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        arrow_schema = to_arrow_schema(schema)
        cols = [
            pa.array([r[i] for r in rows], type=f.type)
            for i, f in enumerate(arrow_schema)
        ]
        table = pa.Table.from_arrays(cols, schema=pa.schema(
            [pa.field(f.name, f.type, nullable=schema[i].nullable)
             for i, f in enumerate(arrow_schema)]
        ))
        out = spark.createDataFrame(table)
        # the session slices even a tiny table into defaultParallelism
        # JVM partitions; one partition keeps every re-evaluation (each
        # broadcast pass of an iterative kernel) a single cheap task
        return out.coalesce(1) if len(rows) <= 4096 else out
    except Exception:  # noqa: BLE001 — exotic types / Arrow refusals
        return spark.createDataFrame(rows, schema)


# Frames persisted by builders that return LAZY results cannot be
# unpersisted at return time — pre-r12 each call leaked one cache block
# for the life of the session, and a long multi-query session (the
# 160-row gate) accumulated enough MEMORY_AND_DISK blocks to grind late
# queries (r12: a 19-second query hung >25 minutes as row 45 of a
# window run).  This registry keeps only the newest frames alive; an
# EVICTED frame whose old handle is re-materialized simply recomputes —
# correct, just slower.
_LIVE_PERSISTS: list = []
# bounded_persist callers are sequential today, but nothing stops a user
# from building frames on two threads; registry mutation is guarded so a
# race cannot double-evict or leak a handle (r13; ADVICE r12)
_LIVE_PERSISTS_LOCK = threading.Lock()
# sized so the deepest single pipeline (dedup_corpus: dedup'd work +
# LSH buckets + candidate set + shingle table + inverted index) never
# evicts its OWN frames mid-query, with headroom for one prior query's
# leftovers; 12 modest frames is far below executor memory, and the sf1
# hang this registry fixes appeared only after ~40 accumulated blocks
_MAX_LIVE_PERSISTS = 12


def bounded_persist(df, storage_level=None):
    """``df.persist()`` with a session-wide cap on live builder caches.

    Use ONLY for persists whose owner returns a lazy result (the
    self-join/shared-scan pattern); code that can ``unpersist()`` in a
    ``finally`` should keep doing that — explicit lifecycle beats
    eviction.

    Entries are keyed by ``semanticHash``: Spark's CacheManager matches
    cache entries by CANONICALIZED PLAN, so re-running the same query
    produces a new handle onto the SAME cache entry — evicting the old
    handle would unpersist the entry out from under the new one (seen
    as a rerun getting progressively SLOWER).  A same-plan insert
    refreshes the entry's position instead of scheduling its eviction.
    ``semanticHash`` is a HASH, so a collision between genuinely
    different plans is possible — the refresh path confirms identity
    with ``sameSemantics`` and unpersists the old handle when it is a
    different plan (otherwise the old cache entry would leak untracked
    for the session; r13, ADVICE r12).
    """
    from pyspark import StorageLevel

    try:
        key = df.semanticHash()
    except Exception:  # noqa: BLE001 — canonicalization failure: no dedup
        key = object()
    with _LIVE_PERSISTS_LOCK:
        refreshed = [(k, h) for k, h in _LIVE_PERSISTS if k == key]
        if refreshed:
            _LIVE_PERSISTS[:] = [
                (k, h) for k, h in _LIVE_PERSISTS if k != key
            ]
            for _, old in refreshed:
                try:
                    if not df.sameSemantics(old):
                        old.unpersist()
                except Exception:  # noqa: BLE001 — treat as same-plan
                    pass
        while len(_LIVE_PERSISTS) >= _MAX_LIVE_PERSISTS:
            try:
                _LIVE_PERSISTS.pop(0)[1].unpersist()
            except Exception:  # noqa: BLE001 — dead SparkContext, at worst
                pass
        b = df.persist(storage_level or StorageLevel.MEMORY_AND_DISK)
        _LIVE_PERSISTS.append((key, b))
    return b
