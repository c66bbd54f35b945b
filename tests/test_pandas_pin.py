"""Pin the pandas concat behavior the stateful-streaming path relies on.

pyspark's applyInPandasWithState serializer pads every emitted batch by
concatenating the result frames with an ALL-NA object-dtype filler frame
(pyspark/sql/pandas/serializers.py construct_record_batch). pandas 2.2
deprecates letting such entries influence the concat result
(FutureWarning, silenced with a message-scoped filter in session.py);
pandas 3.x changes the behavior. These tests assert the exact properties
the order-dependent Python folds depend on (all of them run through
``fold_by_user`` in streaming/runner.py), so a pandas major bump turns
into a loud CI failure here instead of silently reshaped streaming
batches.
"""

from __future__ import annotations

import warnings

import pandas as pd
import pyarrow as pa


def _filler(names: list[str], n: int) -> pd.DataFrame:
    # exactly the serializer's construction: all-NA object columns
    return pd.DataFrame(dict.fromkeys(names), index=list(range(n)))


def test_concat_with_all_na_filler_keeps_values_and_arrow_convertibility():
    """concat([typed results, all-NA filler]) must keep the real rows'
    values intact and remain convertible to the declared Arrow schema
    with NULLs for the filler rows — the two properties the serializer's
    output batch depends on."""
    data = pd.DataFrame({"user_id": [7, 9], "stack": [100.5, 42.0]})
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", FutureWarning)
        merged = pd.concat([data, _filler(["user_id", "stack"], 2)], ignore_index=True)
    assert len(merged) == 4
    assert merged["user_id"][:2].tolist() == [7, 9]
    assert merged["stack"][:2].tolist() == [100.5, 42.0]
    assert merged["user_id"][2:].isna().all() and merged["stack"][2:].isna().all()
    # Arrow conversion with the declared schema: real values preserved,
    # filler rows null — this is what _create_batch does downstream
    schema = pa.schema([("user_id", pa.int64()), ("stack", pa.float64())])
    batch = pa.RecordBatch.from_pandas(merged, schema=schema)
    assert batch.column(0).to_pylist() == [7, 9, None, None]
    assert batch.column(1).to_pylist() == [100.5, 42.0, None, None]


def test_concat_all_filler_only_is_all_na():
    """Zero-result batches (state-only emissions) concat a lone filler;
    the result must stay all-NA and Arrow-nullable."""
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", FutureWarning)
        merged = pd.concat([pd.DataFrame({"k": [], "v": []}), _filler(["k", "v"], 3)],
                           ignore_index=True)
    assert len(merged) == 3 and merged.isna().all().all()
    schema = pa.schema([("k", pa.int64()), ("v", pa.float64())])
    batch = pa.RecordBatch.from_pandas(merged, schema=schema)
    assert batch.column(0).null_count == 3 and batch.column(1).null_count == 3


def test_session_filter_is_message_scoped():
    """The session.py filter must swallow exactly the serializer's
    FutureWarning and nothing else."""
    import pokertracker_cassandra_st_spark.session as S  # applies the filter

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        warnings.filterwarnings(
            "ignore", message=S._PANDAS_CONCAT_MSG, category=FutureWarning
        )
        warnings.warn(
            S._PANDAS_CONCAT_MSG + " is deprecated.", FutureWarning, stacklevel=1
        )
        warnings.warn("some other FutureWarning", FutureWarning, stacklevel=1)
    messages = [str(w.message) for w in caught]
    assert messages == ["some other FutureWarning"]
