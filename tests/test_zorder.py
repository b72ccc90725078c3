"""Z-order layout: files must cover small rectangles of BOTH columns,
where a single-key sort gives the second column full-range spread (no
skipping possible)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from habits_etl_spark.sinks.zorder import zorder_by


def _mean_span(path, col, full_span):
    spans = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        t = pq.read_table(f, columns=[col])
        vals = t.column(col).to_pylist()
        if vals:
            spans.append((max(vals) - min(vals)) / full_span)
    assert len(spans) >= 4, "need several files to compare layouts"
    return sum(spans) / len(spans)


def _grid(spark, side):
    """side x side grid: x and y independent and uniform."""
    return spark.range(side * side).select(
        (F.col("id") % side).alias("x"),
        (F.col("id") / side).cast("bigint").alias("y"),
    )


def test_zorder_bounds_both_columns(spark, tmp_path):
    side = 128
    grid = _grid(spark, side)
    by_x = str(tmp_path / "by_x")
    by_z = str(tmp_path / "by_z")
    grid.repartitionByRange(8, "x").sortWithinPartitions("x").write.parquet(by_x)
    zorder_by(grid, "x", "y", bits=7).write.parquet(by_z)

    # content identical
    a = spark.read.parquet(by_x)
    b = spark.read.parquet(by_z)
    assert a.count() == b.count() == side * side
    assert a.exceptAll(b).count() == 0

    # x-sorted: each file spans ~all of y; z-ordered: both spans shrink
    full = float(side - 1)
    assert _mean_span(by_x, "y", full) > 0.9
    y_span_z = _mean_span(by_z, "y", full)
    x_span_z = _mean_span(by_z, "x", full)
    assert y_span_z < 0.6, y_span_z
    assert x_span_z < 0.6, x_span_z


def test_file_count_follows_row_count(spark, tmp_path, monkeypatch):
    """Both layouts write ceil(rows / ROWS_PER_FILE) files once that
    exceeds the MIN_FILES floor, and the floor below it — never a count
    taken from the session's cores."""
    from habits_etl_spark.sinks import zorder

    grid = _grid(spark, 128)  # 16,384 distinct Morton codes at bits=7
    for per_file, want in [(zorder.ROWS_PER_FILE, zorder.MIN_FILES), (1000, 17)]:
        monkeypatch.setattr(zorder, "ROWS_PER_FILE", per_file)
        for layout in (zorder.zorder_by, zorder.zorder_by_quantile):
            out = str(tmp_path / f"{layout.__name__}_{per_file}")
            layout(grid, "x", "y", bits=7).write.parquet(out)
            got = len(glob.glob(os.path.join(out, "*.parquet")))
            assert got == want, (layout.__name__, per_file, got)


def _files_containing(path, col, value):
    hits, total = 0, 0
    for f in glob.glob(os.path.join(path, "*.parquet")):
        t = pq.read_table(f, columns=[col])
        vals = t.column(col).to_pylist()
        if not vals:
            continue
        total += 1
        if min(vals) <= value <= max(vals):
            hits += 1
    assert total >= 4, "need several files to compare layouts"
    return hits / total


def test_quantile_zorder_discriminates_skewed_hot_range(spark, tmp_path):
    """Zipf-ish x (P(x>=k) ~ 1/k: ~85% of rows in x<=7, tail to 1000),
    uniform y. Uniform bucketing collapses the hot range into bucket 0,
    so nearly every file's [min,max] covers a hot value and a point query
    there prunes nothing; quantile mapping gives hot values their own
    buckets and bounds the covering-file fraction.

    Load sensitivity: file-boundary placement shifts slightly under heavy
    EXTERNAL host contention (r5-r7 observed exactly two marginal
    failures, both with several unrelated Spark sessions competing for
    the same cores; 0 failures in repeated isolated and clean full-suite
    runs, and both reruns passed 2/2). The docstring used to say "rerun
    alone before suspecting a regression"; since r8 the test DOES that
    itself — up to three fresh write+measure attempts, failing only if
    every attempt misses the discrimination bounds, so one load-shifted
    boundary can't red an otherwise green suite while a real layout
    regression still fails all three."""
    from habits_etl_spark.sinks.zorder import zorder_by_quantile

    n = 1 << 14
    data = (
        spark.range(n)
        .select(
            F.least(
                F.floor(F.lit(float(n)) / (F.col("id") + 1)).cast("bigint"),
                F.lit(1000).cast("bigint"),
            ).alias("x"),
            (F.col("id") % 128).alias("y"),
        )
    )

    # bucket resolution inside the hot range: distinct hot values (x<=7,
    # ~85% of rows) per file. Uniform collapses them into one bucket so
    # every hot file holds all 7; quantile splits them (measured 3.0).
    def mean_distinct_hot(path):
        per_file = []
        for f in glob.glob(os.path.join(path, "*.parquet")):
            vals = pq.read_table(f, columns=["x"]).column("x").to_pylist()
            hot = {v for v in vals if v <= 7}
            if hot:
                per_file.append(len(hot))
        return sum(per_file) / len(per_file)

    last = None
    for attempt in range(3):
        by_u = str(tmp_path / f"uniform{attempt}")
        by_q = str(tmp_path / f"quantile{attempt}")
        zorder_by(data, "x", "y", bits=7).write.parquet(by_u)
        zorder_by_quantile(data, "x", "y", bits=7).write.parquet(by_q)

        # content identical — NOT load-sensitive, so assert every attempt
        assert (
            spark.read.parquet(by_u).exceptAll(spark.read.parquet(by_q)).count()
            == 0
        )

        # point query on a hot-but-not-modal value: fraction of files
        # whose x-stats cover it (i.e. files a scan must read). Measured:
        # uniform 1.00 (every file covers the smeared hot range) vs
        # quantile 0.38-0.63 (absolute value quantizes with the file
        # count — zorder.MIN_FILES at this size — so assert RELATIVE to
        # the uniform baseline; the range partitioner can leave as few
        # as 4 non-empty files under a skewed z-distribution, 3/4 =
        # 0.75, hence the 0.8 headroom).
        probe = 5
        frac_uniform = _files_containing(by_u, "x", probe)
        frac_quantile = _files_containing(by_q, "x", probe)
        last = (
            frac_uniform,
            frac_quantile,
            mean_distinct_hot(by_u),
            mean_distinct_hot(by_q),
        )
        if (
            frac_uniform > 0.9  # uniform: hot range smeared
            and frac_quantile <= 0.8 * frac_uniform
            and last[2] > 6
            and last[3] < 5.5
        ):
            return
    raise AssertionError(
        f"discrimination bounds missed on all 3 attempts; last "
        f"(frac_uniform, frac_quantile, hot_u, hot_q) = {last}"
    )
