"""impl="jvm" selector path: pure Catalyst higher-order-function selectors
(operators/downsample.py:jvm_select_expr) must be bit-identical to the
NumPy kernels and keep Python out of the executed plan entirely.
"""

import numpy as np
import pytest

from tsdownsample_spark.kernels import selectors as K
from tsdownsample_spark.operators.downsample import downsample_tokens, jvm_select_expr

LENS = [0, 1, 2, 5, 19, 20, 21, 99, 100, 101, 997, 1000, 4096, 12345]


@pytest.fixture(scope="module")
def tok_df(spark):
    rng = np.random.default_rng(0)
    rows = []
    for i, L in enumerate(LENS):
        # vocab of 50 -> heavy duplicate values, exercising first-hit ties
        rows.append((i, [int(v) for v in rng.integers(0, 50, size=L)]))
    rows.append((len(rows), None))
    return rows, spark.createDataFrame(rows, "doc_id long, tokens array<int>")


KERNELS = {"minmax": K.minmax, "m4": K.m4, "everynth": K.everynth}


class TestJvmParity:
    @pytest.mark.parametrize(
        "algo,n_out",
        [
            ("minmax", 100),
            ("minmax", 2000),
            ("m4", 100),
            ("m4", 2000),
            ("everynth", 100),
            ("everynth", 37),
        ],
    )
    def test_bit_parity_with_kernel(self, spark, tok_df, algo, n_out):
        rows, df = tok_df
        got = {
            r.doc_id: r.sel_idx
            for r in downsample_tokens(df, n_out, algo=algo, impl="jvm").collect()
        }
        for i, toks in rows:
            if toks is None:
                assert got[i] is None
            elif not toks:
                assert list(got[i]) == []
            else:
                exp = KERNELS[algo](np.asarray(toks, dtype=np.int32), n_out)
                assert list(got[i]) == list(exp), f"row {i} len {len(toks)}"

    def test_select_mode_gathers_values(self, spark, tok_df):
        rows, df = tok_df
        by_id = dict(rows)
        out = downsample_tokens(
            df, 100, algo="minmax", impl="jvm", output="select"
        ).collect()
        for r in out:
            toks = by_id[r.doc_id]
            if toks is None:
                assert r.sel_idx is None and r.sel_tokens is None
            else:
                assert list(r.sel_tokens) == [toks[i] for i in r.sel_idx]
        assert "tokens" not in downsample_tokens(
            df, 100, algo="minmax", impl="jvm", output="select"
        ).columns

    def test_plan_is_python_free_and_shuffle_free(self, spark, tok_df):
        _, df = tok_df
        plan = (
            downsample_tokens(df, 2000, algo="m4", impl="jvm")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        for marker in (
            "ArrowEvalPython",
            "BatchEvalPython",
            "MapInArrow",
            "FlatMapGroupsInPandas",
            "Exchange",
        ):
            assert marker not in plan

    def test_matches_arrow_impl(self, spark, tok_df):
        """The two impls are interchangeable on the same input."""
        _, df = tok_df
        for algo in ("minmax", "m4", "everynth"):
            a = {
                r.doc_id: r.sel_idx
                for r in downsample_tokens(df, 100, algo=algo, impl="jvm").collect()
            }
            b = {
                r.doc_id: r.sel_idx
                for r in downsample_tokens(df, 100, algo=algo).collect()
            }
            assert {k: None if v is None else list(v) for k, v in a.items()} == {
                k: None if v is None else list(v) for k, v in b.items()
            }

    def test_lttb_rejected_with_guidance(self, spark, tok_df):
        _, df = tok_df
        with pytest.raises(ValueError, match="arrow impl"):
            downsample_tokens(df, 100, algo="lttb", impl="jvm")

    def test_expr_rejects_unknown_algo(self):
        with pytest.raises(ValueError, match="impl='jvm' supports"):
            jvm_select_expr("minmaxlttb", 100)
