"""Within-invocation materialization of branch-shared bases.

Catalyst does not de-duplicate common subtrees: a DataFrame consumed by
several union branches or by both sides of a join re-runs its whole
lineage per consumer (r6 plan audit: q_minmaxlttb_x_long re-ran its scan
+ rank window 6x; q_jaccard_pairs re-derived its minhash signatures on
both sides of the LSH self-join and its candidate pairs four times).
``materialize_shared`` runs the shared base ONCE per invocation and lets
every consumer read the materialized blocks.

Users: ``lsh_candidate_pairs``, ``jaccard_pairs`` and
``containment_pairs`` (operators/dedup.py); ``tfidf_topk`` and
``pmi_collocations`` (operators/frequency.py); ``inverted_index``
(operators/index.py); ``session_association_rules`` (operators/assoc.py).
The long-form selectors (operators/sql_selectors.py) do not use it: each
is one window lineage whose second consumers (collision fallback,
MinMaxLTTB small-series branch) reuse the main branch's shuffle, so
nothing there is worth a persist.

Mechanics and constraints:

* ``persist()`` + eager ``count()`` rather than ``localCheckpoint``:
  under AQE the checkpoint's LogicalRDD reports UnknownPartitioning,
  which re-introduces an exchange on bucketed sources;
  ``InMemoryTableScan`` preserves the cached plan's
  outputPartitioning/ordering, so bucketed zero-Exchange plans survive.
  (tests/test_plans.py::test_long_selector_shuffle_free_on_bucketed_source
  pins a zero-Exchange plan for ``minmax_long``, which no longer goes
  through this persist; no test pins the property for the users above.)
  The eager count populates the cache in ONE job so concurrent
  downstream stages never race to compute it.
* This is per-invocation work: every call recomputes from its input —
  nothing persists across bench/oracle runs, and results are
  bit-identical (materialization only, no arithmetic change).  The
  frames stay cached until ``release_materialized()`` runs — dropping
  the DataFrame does not free them, since Spark's CacheManager keeps
  its own reference.  The query loaders call it; a library caller that
  uses the operators directly must call it once the results are in.
* Batch-only: calling it on a streaming DataFrame is an error by
  construction (persist is unsupported there) — keep it out of
  foreachBatch-external streaming lineage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

__all__ = ["materialize_shared", "release_materialized"]

# Cached plans registered by persist() stay in Spark's CacheManager until
# an explicit unpersist — and the CacheManager SUBSTITUTES a cached plan
# into any later query containing an identical subtree.  Left alone, a
# bench query could therefore silently reuse the previous query's cached
# work (q_containment derives the same candidate pairs as q_jaccard_pairs)
# — misrepresenting per-query timings — and cached blocks would accumulate
# all session.  Every materialized frame is registered here, and the query
# loaders (queries.load / queries_text._load / _load_wide) call
# release_materialized() at the start of each new query so each
# invocation computes its own work.  Unpersist is always value-safe:
# a released frame that is still referenced just recomputes.
_LIVE: list[DataFrame] = []


def materialize_shared(df: DataFrame) -> DataFrame:
    df = df.persist()
    df.count()
    _LIVE.append(df)
    return df


def release_materialized() -> None:
    """Unpersist every frame materialized since the last release."""
    while _LIVE:
        df = _LIVE.pop()
        try:
            df.unpersist()
        except Exception:
            pass  # session already stopped / executor gone — nothing to free
