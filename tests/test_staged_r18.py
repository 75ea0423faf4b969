"""Round-18 staged operators (operators/staged_r18.py): the wave's fn-vs-DuckDB
value compares, shared with tests/test_oracle_parity.py through the memoized
`run_compare`, and the checks an oracle cannot express. Independent guards:
the jackknife SE is re-derived in plain-Python Fraction arithmetic, Hampel
medians against statistics.median, GIF headers against a struct re-parse of
the staged bytes, the FK census against raw table counts, and Gumbel return
levels against the closed form."""

from __future__ import annotations

import math

import pytest

from parallel_mapreduce_wordcounting_spark.operators import staged_r18

from .conftest import SF_DIR, assert_nonvacuous, run_compare, wave_keys


@pytest.mark.parametrize("key", wave_keys(staged_r18))
def test_staged_r18_oracle_parity(spark, duck, key):
    run_compare(spark, duck, key)


def test_staged_r18_nonvacuous(spark, duck):
    assert_nonvacuous(spark, duck, wave_keys(staged_r18))


def test_jackknife_matches_python_fractions(spark, duck):
    """Re-derive the jackknife SE with exact Fraction arithmetic from the
    raw per-user sums — an implementation independent of both engines."""
    from fractions import Fraction

    rows = duck.execute(
        "SELECT user_id, "
        "sum(CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT)), "
        "count(*) FROM events WHERE event_type = 'purchase' GROUP BY 1"
    ).fetchall()
    S = sum(r[1] for r in rows)
    N = sum(r[2] for r in rows)
    n = len(rows)
    assert n >= 2
    # the op quantizes pseudo-values to integer microcents (floor)
    qs = [((S - s) * 1_000_000) // (N - ne) for _, s, ne in rows]
    qbar = Fraction(sum(qs), n)
    var = Fraction(n - 1, n) * sum((Fraction(q) - qbar) ** 2 for q in qs)
    se = math.sqrt(float(var / n)) / 1e8
    got = staged_r18.stat_jackknife(spark, SF_DIR).collect()[0]
    assert got.n_users == n and got.n_events == N
    assert got.theta == round(S / N / 100.0, 6)
    assert abs(got.jk_se - se) < 1e-6
    assert got.ci_lo < got.theta < got.ci_hi


def test_autocorr_bounds_and_running_q(spark):
    rows = sorted(
        staged_r18.stat_autocorr(spark, SF_DIR).collect(),
        key=lambda r: r.lag,
    )
    assert [r.lag for r in rows] == list(range(1, 8))
    prev_q = 0.0
    for r in rows:
        assert abs(r.acf) <= 1.0 + 1e-9
        assert r.n_pairs == r.n_days - r.lag
        assert r.lb_q >= prev_q - 1e-9  # Q accumulates non-negative terms
        prev_q = r.lb_q


def test_hampel_medians_match_statistics_median(spark, duck):
    """Re-derive med7/mad7 for every day with statistics.median over the
    raw neighborhoods; outlier flag must equal score > 3 where MAD > 0."""
    import statistics

    daily = dict(
        duck.execute(
            "SELECT CAST(((epoch_ns(ts) // 1000) "
            " - ((((epoch_ns(ts) // 1000) % 86400000000) + 86400000000) "
            "    % 86400000000)) // 86400000000 AS BIGINT), "
            "sum(CAST(sign(value) * floor(abs(value) * 100 + 0.5) AS BIGINT)) "
            "FROM events WHERE event_type = 'purchase' GROUP BY 1"
        ).fetchall()
    )
    for r in staged_r18.win_hampel(spark, SF_DIR).collect():
        nb = [
            daily[d]
            for d in range(r.day - 3, r.day + 4)
            if d in daily
        ]
        assert r.n_window == len(nb)
        med = statistics.median(nb)
        assert r.med7 == med
        assert r.mad7 == statistics.median([abs(x - med) for x in nb])
        if r.mad7 > 0:
            assert r.is_outlier == (r.hampel_score > 3.0)
        else:
            assert r.is_outlier == (abs(r.rev_cents - r.med7) > 0)


def test_referential_census_is_intact_and_counts_match(spark, duck):
    rows = {
        (r.child_table, r.fk_col): r
        for r in staged_r18.dq_referential(spark, SF_DIR).collect()
    }
    assert len(rows) == 7
    for (child, fk), r in rows.items():
        # TPC-H-ish fixture is referentially intact
        assert r.n_orphans == 0 and r.orphan_rate == 0.0
        n = duck.execute(
            f"SELECT count(*) FROM {child} WHERE {fk} IS NOT NULL"
        ).fetchone()[0]
        assert r.n_rows == n


def test_gif_headers_reparse_with_struct(spark):
    """struct-unpack each staged GIF and compare against the JVM parse."""
    import glob
    import hashlib
    import os
    import struct
    import tempfile

    rows = {
        r.doc_id: r for r in staged_r18.mm_gif_meta(spark, SF_DIR).collect()
    }
    stage = os.path.join(
        tempfile.gettempdir(),
        f"pmrwc_gif_{os.getuid()}_{hashlib.md5(SF_DIR.encode()).hexdigest()[:8]}",
    )
    files = glob.glob(f"{stage}/*.gif")
    assert len(files) == len(rows) == staged_r18._GIF_N
    for f in files:
        doc_id = int(os.path.basename(f).removesuffix(".gif"))
        raw = open(f, "rb").read()
        r = rows[doc_id]
        assert raw[:6] == b"GIF89a" and r.valid_magic and r.version == "89a"
        w, h = struct.unpack("<HH", raw[6:10])
        assert (r.width, r.height) == (w, h)
        packed = raw[10]
        assert r.gct_flag == bool(packed & 0x80)
        assert r.gct_colors == 1 << ((packed & 0x07) + 1)
        assert r.n_bytes == len(raw) == 14 + 3 * r.gct_colors
        assert raw[-1] == 0x3B


def test_gumbel_return_levels_closed_form(spark):
    rows = sorted(
        staged_r18.stat_gumbel(spark, SF_DIR).collect(),
        key=lambda r: r.horizon_days,
    )
    assert [r.horizon_days for r in rows] == [7, 14, 30, 90]
    prev = -math.inf
    for r in rows:
        assert r.gumbel_beta > 0
        # closed form from the (rounded) fit parameters
        expect = r.gumbel_mu - r.gumbel_beta * math.log(
            -math.log(1.0 - 1.0 / r.horizon_days)
        )
        assert abs(r.return_level - expect) < 2e-6
        assert r.return_level > prev  # longer horizon => higher level
        prev = r.return_level
        assert r.n_blocks == rows[0].n_blocks
