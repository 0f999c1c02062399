"""``ranges.prefix_scan`` against pandas, and a pin that keeps it the
package's only distributed prefix scan.

The oracle is pandas ``cumsum``/``cummin``/``cummax`` (and their
shifted, exclusive forms) over the same rows sorted sequentially.
Values are integers (sums) and exact doubles (min/max), so the
distributed association of the sums cannot change a bit.  Coalescing is
off and ``spark.sql.shuffle.partitions`` is at least 4, so the scans run
over several range partitions and the exclusive bases are exercised.
"""

from __future__ import annotations

import ast
import pathlib
import re

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from moz_datapipeline_spark.operators.ranges import prefix_scan

PKG = pathlib.Path(__file__).resolve().parents[1] / "moz_datapipeline_spark"
SCHEMA = "g int, k int, tb long, v long, x double"


@pytest.fixture
def partitions(spark):
    """Set the shuffle partition count with AQE coalescing off; restore
    both afterwards."""
    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.adaptive.coalescePartitions.enabled",
    )
    saved = {k: spark.conf.get(k) for k in keys}

    def set_partitions(n: int) -> None:
        spark.conf.set(keys[0], str(n))
        spark.conf.set(keys[1], "false")

    set_partitions(5)
    yield set_partitions
    for k, v in saved.items():
        spark.conf.set(k, v)


def _frame(seed: int, n: int = 300) -> pd.DataFrame:
    rng = np.random.default_rng(seed)
    return pd.DataFrame(
        {
            "g": rng.integers(0, 3, n).astype("int32"),
            # few distinct keys: ties everywhere, broken by tb
            "k": rng.integers(0, 12, n).astype("int32"),
            "tb": rng.permutation(n).astype("int64"),
            "v": rng.integers(-50, 100, n).astype("int64"),
            "x": rng.integers(-1000, 1000, n) / 8.0,
        }
    )


def _running() -> dict:
    return {
        "s": ("sum", F.col("v")),
        "n": ("sum", F.lit(1)),
        "lo": ("min", F.col("x")),
        "hi": ("max", F.col("x")),
    }


def _scan(spark, pdf, *, by=(), exclusive=False, descending=False):
    k = F.col("k").desc() if descending else F.col("k").asc()
    df = spark.createDataFrame(
        list(pdf.itertuples(index=False, name=None)), SCHEMA
    )
    out = prefix_scan(
        df,
        [k, F.col("tb").asc()],
        _running(),
        by=by,
        exclusive=exclusive,
        totals={"tot": ("sum", F.col("v")), "top": ("max", F.col("x"))},
    )
    got = out.toPandas()
    out.unpersist(blocking=True)
    return got


def _expected(pdf, *, by=(), exclusive=False, descending=False):
    ordered = pdf.sort_values(
        ["k", "tb"], ascending=[not descending, True]
    ).copy()
    ordered["_one"] = 1
    grouped = ordered.groupby(list(by)) if by else None

    def over(col: str, how: str) -> pd.Series:
        run = getattr(grouped[col] if by else ordered[col], how)()
        if not exclusive:
            return run
        return run.groupby([ordered[c] for c in by]).shift() if by else run.shift()

    ordered["s"] = over("v", "cumsum")
    ordered["n"] = over("_one", "cumsum")
    ordered["lo"] = over("x", "cummin")
    ordered["hi"] = over("x", "cummax")
    if exclusive:  # an empty sum is 0; an empty min/max stays NULL
        ordered[["s", "n"]] = ordered[["s", "n"]].fillna(0)
    ordered["tot"] = (
        grouped["v"].transform("sum") if by else ordered["v"].sum()
    )
    ordered["top"] = (
        grouped["x"].transform("max") if by else ordered["x"].max()
    )
    return ordered.drop(columns="_one")


def _same(got: pd.DataFrame, want: pd.DataFrame) -> None:
    cols = list(want.columns)
    assert list(got.columns) == cols
    got = got.sort_values("tb").reset_index(drop=True)
    want = want.sort_values("tb").reset_index(drop=True)
    for c in cols:
        g = got[c].astype("float64").to_numpy()
        w = want[c].astype("float64").to_numpy()
        assert np.array_equal(g, w, equal_nan=True), c


@pytest.mark.parametrize("exclusive", [False, True])
@pytest.mark.parametrize("by", [(), ("g",)])
@pytest.mark.parametrize("descending", [False, True])
def test_matches_pandas(spark, partitions, by, exclusive, descending):
    pdf = _frame(seed=7 + len(by) + 2 * exclusive + 4 * descending)
    got = _scan(spark, pdf, by=by, exclusive=exclusive, descending=descending)
    _same(got, _expected(pdf, by=by, exclusive=exclusive, descending=descending))


def test_runs_over_several_range_partitions(spark, partitions):
    df = spark.createDataFrame(
        list(_frame(seed=1).itertuples(index=False, name=None)), SCHEMA
    )
    out = prefix_scan(df, [F.col("k").asc(), F.col("tb").asc()], _running())
    assert out.rdd.getNumPartitions() >= 4
    out.unpersist(blocking=True)


@pytest.mark.parametrize("n", [0, 1])
@pytest.mark.parametrize("exclusive", [False, True])
def test_empty_and_single_row(spark, partitions, n, exclusive):
    pdf = _frame(seed=3, n=n)
    got = _scan(spark, pdf, by=("g",), exclusive=exclusive)
    assert len(got) == n
    _same(got, _expected(pdf, by=("g",), exclusive=exclusive))


def test_independent_of_partition_count(spark, partitions):
    pdf = _frame(seed=11)
    results = []
    for n in (1, 3, 7):
        partitions(n)
        got = _scan(spark, pdf, by=("g",), exclusive=True)
        results.append(got.sort_values("tb").reset_index(drop=True))
    for other in results[1:]:
        pd.testing.assert_frame_equal(results[0], other)


def test_returned_frame_owns_its_checkpoint(spark, clean_storage):
    df = spark.createDataFrame(
        list(_frame(seed=5, n=50).itertuples(index=False, name=None)), SCHEMA
    )
    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())
    out = prefix_scan(df, [F.col("tb").asc()], _running())
    out.count()
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) <= base + 1
    out.unpersist(blocking=True)
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == base


_BASES_WINDOW = re.compile(r"""orderBy\(\s*["']_pid["']\s*\)""")


def test_prefix_scan_is_the_only_bases_window():
    """The exclusive-bases window over range partitions appears only in
    ``ranges.prefix_scan``: a hand-rolled copy of the scan elsewhere in
    the package fails here."""
    ranges = PKG / "operators" / "ranges.py"
    fn = next(
        node
        for node in ast.parse(ranges.read_text()).body
        if isinstance(node, ast.FunctionDef) and node.name == "prefix_scan"
    )
    inside = range(fn.lineno, fn.end_lineno + 1)
    offenders, found_inside = [], False
    for path in sorted(PKG.rglob("*.py")):
        for no, line in enumerate(path.read_text().splitlines(), 1):
            if not _BASES_WINDOW.search(line):
                continue
            if path == ranges and no in inside:
                found_inside = True
            else:
                offenders.append(f"{path.relative_to(PKG.parent)}:{no}")
    assert found_inside, "prefix_scan no longer holds the bases window"
    assert offenders == [], offenders
