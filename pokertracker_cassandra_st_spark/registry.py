"""Query registry — the single source of truth for the engine surface.

Every operator from SURVEY.md §2 registers here with:
  * a Spark callable ``fn(spark, sf_dir) -> DataFrame`` (the engine), and
  * optionally a DuckDB oracle SQL string (the differential-correctness
    gate; ``None`` => rows-only check, used for ops ANSI SQL can't
    express — approx sketches, streaming state, LSH, ...).

``__spark_entry__.py`` exposes this registry to the driver.

Cross-engine determinism rules (every query follows these — see
SURVEY.md §7.5):
  * double SUM/AVG go through DECIMAL(18,4) so the result is
    summation-order independent, then cast back to double;
  * inherently float-order-sensitive stats (stddev, corr, ...) are
    rounded to a tolerance far above double noise;
  * ns-precision timestamps are never returned raw (Spark truncates
    ns->us); they are formatted or truncated to seconds;
  * every ORDER BY feeding row_number/limit has a unique tie-break key.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pokertracker_cassandra_st_spark.session import tune

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL, or None => rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register ``fn(spark, sf_dir)`` under ``name``."""

    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = Query(name, wrapped, oracle, fn.__doc__ or "", tuple(tags))
        return fn

    return deco


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    import pokertracker_cassandra_st_spark.operators  # noqa: F401
    import pokertracker_cassandra_st_spark.functions  # noqa: F401
    import pokertracker_cassandra_st_spark.streaming  # noqa: F401
    import pokertracker_cassandra_st_spark.llm  # noqa: F401
    import pokertracker_cassandra_st_spark.sources  # noqa: F401


# An external correctness driver checks the FIRST 50 registry entries
# against their DuckDB oracles, so WINDOW fixes which queries those are:
# every one oracle-backed, every operator family represented.
WINDOW: list[str] = [
    "q_tpch_q2_shape",
    "q_tpch_q9_shape",
    "q_tpch_q11_shape",
    "q_tpch_q16_shape",
    "q_tpch_q20_shape",
    "q_agg_srm",
    "q_graph_assortativity",
    "q_ts_mad_anomaly",
    "q_dq_key_audit",
    "q_sample_balanced",
    "q_text_hapax",
    "q_dedup_threshold_curve",
    "q_stream_funnel",
    "q_agg_delta_ratio_var",
    "q_graph_degree_hist",
    "q_graph_jaccard",
    "q_ts_changepoint",
    "q_text_winnow",
    "q_text_cooccurrence",
    "q_pipeline_interleave",
    "q_replay_tombstone_anti",
    "q_filter_in_like_null",
    "q_join_outer",
    "q_join_semi",
    "q_join_anti",
    "q_join_theta",
    "q_join_nullsafe",
    "q_join_band",
    "q_join_asof",
    "q_agg_approx_distinct",
    "q_agg_rollup",
    "q_sink_roundtrip",
    "q_set_union",
    "q_topk",
    "q_agg_percentile_approx",
    "q_udf_pandas",
    "q_sim_topk",
    "q_multimodal_meta",
    "q_source_csv_roundtrip",
    "q_win_moving",
    "q_win_range_frame",
    "q_agg_pivot",
    "q_unpivot",
    "q_win_firstlast",
    "q_sample_split",
    "q_lateral_join",
    "q_recursive_cte",
    "q_fn_string",
    "q_fn_date",
    "q_fn_math",
]


def _ordered() -> dict[str, Query]:
    _load_all()
    missing = [n for n in WINDOW if n not in REGISTRY]
    if missing:
        raise RuntimeError(f"WINDOW names not registered: {missing}")
    in_window = set(WINDOW)
    rest = [n for n in REGISTRY if n not in in_window]
    return {n: REGISTRY[n] for n in [*WINDOW, *rest]}


def get_queries() -> dict[str, QueryFn]:
    return {name: q.fn for name, q in _ordered().items()}


def get_oracles() -> dict[str, str]:
    return {name: q.oracle for name, q in _ordered().items() if q.oracle is not None}
