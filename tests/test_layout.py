"""Storage-layout tests: the clustered write must actually produce
prunable statistics (the whole point), and the filter must reach the
scan."""

from __future__ import annotations

import datetime

import pyarrow.parquet as pq

from modelorecomendacion_analisisspark_streaming_mas_spark.plans import REGISTRY
from modelorecomendacion_analisisspark_streaming_mas_spark.plans.layout import (
    clustered_lineitem_dir,
    zordered_lineitem_dir,
)

_LO = datetime.datetime(1996, 1, 1)
_HI = datetime.datetime(1996, 4, 1)


def _row_group_envelopes(path: str, column: str = "l_shipdate"):
    """(min, max) of ``column`` for every row group of every data file
    (accepts a single parquet file or a directory of part files)."""
    import glob
    import os

    files = [path] if os.path.isfile(path) else glob.glob(os.path.join(path, "*.parquet"))
    envs = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.to_arrow_schema().get_field_index(column)
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            assert st is not None and st.has_min_max
            envs.append((st.min, st.max))
    return envs


def _overlap_frac(envs, lo, hi) -> float:
    return len([e for e in envs if e[0] < hi and e[1] >= lo]) / len(envs)


def test_clustered_row_groups_prune(spark, sf_dir):
    """After the range-partitioned sorted write, the 1996Q1 window must
    overlap only a small fraction of row-group envelopes -- the scan
    skips the rest from footer statistics alone. The original unsorted
    table is the control: every row group overlaps (no skipping
    possible)."""
    d = clustered_lineitem_dir(spark, sf_dir)
    envs = _row_group_envelopes(d)
    assert len(envs) >= 8  # one file per range partition, >=1 row group each
    overlapping = [e for e in envs if e[0] < _HI and e[1] >= _LO]
    frac = len(overlapping) / len(envs)
    # 1996Q1 is ~3.6% of the 1995-2001 span; disjoint sorted ranges keep
    # the overlap near that. <=25% is a loose bound that still proves
    # real pruning.
    assert frac <= 0.25, f"clustered layout not prunable: {frac:.0%} overlap"

    control = _row_group_envelopes(f"{sf_dir.rstrip('/')}/lineitem.parquet")
    c_frac = len([e for e in control if e[0] < _HI and e[1] >= _LO]) / len(control)
    assert c_frac == 1.0, "control layout unexpectedly clustered"


def test_zorder_prunes_both_dimensions(spark, sf_dir):
    """The Morton layout must give BOTH clustering columns usable row-
    group envelopes: a narrow window on either dimension alone may only
    overlap a bounded fraction of row groups. The q50 single-sort layout
    is the control for the second dimension -- sorted by l_shipdate, its
    l_partkey envelopes are near-full-range everywhere (no skipping)."""
    d = zordered_lineitem_dir(spark, sf_dir)

    # Dimension 2 (l_partkey): bottom eighth of the key space.
    import duckdb

    lo_pk, hi_pk = duckdb.sql(
        f"SELECT min(l_partkey), max(l_partkey) FROM read_parquet('{sf_dir}/lineitem.parquet')"
    ).fetchone()
    pk_hi_edge = lo_pk + (hi_pk - lo_pk) / 8
    pk = _row_group_envelopes(d, "l_partkey")
    assert len(pk) >= 16
    assert _overlap_frac(pk, lo_pk, pk_hi_edge) <= 0.5, "partkey dim not prunable"

    # Dimension 1 (l_shipdate): 1996Q1, same window q50 uses.
    sd = _row_group_envelopes(d, "l_shipdate")
    assert _overlap_frac(sd, _LO, _HI) <= 0.5, "shipdate dim not prunable"

    # Control: the single-sort layout cannot prune the second dimension.
    control = _row_group_envelopes(clustered_lineitem_dir(spark, sf_dir), "l_partkey")
    assert _overlap_frac(control, lo_pk, pk_hi_edge) >= 0.9


def test_clustered_scan_pushes_filter(spark, sf_dir):
    plan = (
        REGISTRY["q50_clustered_scan_pruning"]
        .fn(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan


def test_compaction_collapses_files(spark, sf_dir):
    """64 shards in, ceil(bytes/target) files out, zero rows lost."""
    import glob
    import os

    from modelorecomendacion_analisisspark_streaming_mas_spark.plans.layout import (
        _fragmented_then_compacted,
    )

    frag, comp = _fragmented_then_compacted(spark, sf_dir)
    n_frag = len(glob.glob(os.path.join(frag, "*.parquet")))
    n_comp = len(glob.glob(os.path.join(comp, "*.parquet")))
    assert n_frag == 64
    assert n_comp < n_frag / 4, f"compaction too weak: {n_frag} -> {n_comp}"
    assert (
        spark.read.parquet(comp).count() == spark.read.parquet(frag).count()
    )
