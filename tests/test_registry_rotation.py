"""Guards for the driver's 50-slot verification window (COVERAGE.md).

The driver only verifies the first DRIVER_WINDOW keys of queries() each
round, so the emission order must put every never-driver-verified key inside
that window — round 2's off-by-two (two contract keys pushed to positions
51-52) is exactly the regression these tests pin down. Round 4 tightened
what "verified" means: only hash-pass rows count for oracled keys, a clean
rows-only row counts only while the key has no oracle, and failing rows
never count — so a key that gains an oracle (or ever fails) re-enters the
front group automatically.
"""

from __future__ import annotations

from parallel_mapreduce_wordcounting_spark.registry import (
    REVERIFY_KEYS,
    DRIVER_WINDOW,
    REGISTRY,
    _HASH_VERIFIED,
    _ROWS_ONLY_CLEAN,
    _emission_order,
    driver_verified,
    oracle_sql,
    queries,
)


def test_unverified_keys_lead_the_emission_order():
    order = _emission_order()
    verified = driver_verified()
    unverified = sorted(set(REGISTRY) - verified)
    assert order[: len(unverified)] == unverified, (
        "never-driver-verified keys must come first (alphabetical)"
    )
    # then the stale-green re-verify tier (only keys whose newest verdict
    # predates the change stamp), then the rest — each alphabetical
    from parallel_mapreduce_wordcounting_spark.registry import (
        _LATEST_ROUND,
        _reverify_pending,
    )

    reverify = sorted(
        k for k in (verified & REVERIFY_KEYS) & set(REGISTRY) if _reverify_pending(k)
    )
    assert order[len(unverified) : len(unverified) + len(reverify)] == reverify
    # the verified back tier drains stalest-first (oldest verdict round,
    # then key) so spare window slots always go to the stalest greens
    rest = order[len(unverified) + len(reverify) :]
    assert rest == sorted(
        (verified & set(REGISTRY)) - set(reverify),
        key=lambda k: (_LATEST_ROUND.get(k, 0), k),
    )


def test_reverify_keys_fit_in_driver_window():
    # The re-verify tier must never displace a key with NO verdict — those
    # always claim their window slots — while re-verify itself is
    # OPPORTUNISTIC by design ("re-presented while spare window slots
    # exist", registry.py): it takes the slots immediately after the
    # unverified tier, so it is in the window exactly when capacity
    # allows. An expired REVERIFY key (fresh verdict >= its stamp) makes
    # no claim at all (round-5 verdict item 1).
    from parallel_mapreduce_wordcounting_spark.registry import _reverify_pending

    order = _emission_order()
    front = set(order[:DRIVER_WINDOW])
    unverified = set(REGISTRY) - driver_verified()
    for k in unverified:
        assert k in front, f"{k} (no verdict) fell outside the driver window"
    live_reverify = sorted(
        k for k in REVERIFY_KEYS & set(REGISTRY) if _reverify_pending(k)
    )
    # re-verify keys occupy the positions straight after the unverified
    # tier; each is in the window iff its rank fits the remaining capacity
    for i, k in enumerate(live_reverify):
        expected_pos = len(unverified) + i
        assert order[expected_pos] == k
        if expected_pos < DRIVER_WINDOW:
            assert k in front


def test_unverified_keys_fit_in_driver_window():
    unverified = set(REGISTRY) - driver_verified()
    assert len(unverified) <= DRIVER_WINDOW, (
        f"{len(unverified)} unverified keys exceed the driver's "
        f"{DRIVER_WINDOW}-slot window; they cannot all get verdicts this "
        f"round — stage additions across rounds (see COVERAGE.md)"
    )
    front = list(queries())[:DRIVER_WINDOW]
    assert unverified <= set(front)


def test_driver_verified_set_is_derived_and_nonempty():
    # Three rounds of CORRECTNESS_r*.json are checked in; if the loader
    # breaks (path change, JSON format drift) rotation silently degrades to
    # alphabetical — fail loudly instead.
    assert len(driver_verified()) >= 90
    assert "wc_topk" in driver_verified()


def test_hash_pass_required_for_oracled_keys():
    # ADVICE r3 (medium): a rows-only verdict must NOT pin an oracled key
    # at the back of the order. Every verified key either hash-passed or is
    # genuinely rows-only (no oracle registered).
    for k in driver_verified():
        assert k in _HASH_VERIFIED or REGISTRY[k].oracle is None, k


def test_rows_only_keys_with_new_oracle_would_requeue():
    # The mechanism the r3 ADVICE asked for: a key whose only verdicts are
    # clean rows-only rows counts as verified solely BECAUSE it has no
    # oracle; were an oracle added, driver_verified() would drop it into
    # the front group. Checked structurally against the parsed verdict sets.
    rows_only_now = {
        k
        for k in REGISTRY
        if k in _ROWS_ONLY_CLEAN and k not in _HASH_VERIFIED
    }
    for k in rows_only_now:
        if REGISTRY[k].oracle is not None:
            assert k not in driver_verified(), (
                f"{k} gained an oracle but a stale rows-only verdict still "
                f"classes it verified"
            )


def test_later_round_failure_revokes_earlier_pass(tmp_path):
    # Round-4 VERDICT item 3: a key that hash-passed in r(n-1) but FAILED in
    # r(n) must lose its verified status (and re-float to the front group).
    # Previously verdicts were unioned across rounds, so event_funnel's r4
    # failure never revoked its r3 pass.
    import json

    from parallel_mapreduce_wordcounting_spark.registry import _load_driver_verdicts

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 5, "oracle_rows": 5, "err": None}
    fail = {"rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": "AnalysisException: boom"}
    rows_only = {"rows_match": None, "schema_match": None, "hash_match": None,
                 "spark_rows": 7, "oracle_rows": None, "err": "no_oracle"}

    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"a": ok, "b": ok, "c": rows_only, "d": ok})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"a": fail, "c": fail, "d": rows_only})
    )
    hash_ok, rows_only_clean, latest_round = _load_driver_verdicts(tmp_path)
    assert "a" not in hash_ok  # r2 failure revokes the r1 pass
    assert "b" in hash_ok  # untouched in r2: r1 verdict stands
    assert "c" not in rows_only_clean  # rows-only clean revoked by failure
    # a later rows-only row downgrades an earlier hash pass too: the newest
    # driver observation wins in both directions
    assert "d" not in hash_ok and "d" in rows_only_clean
    # latest-round bookkeeping (feeds the re-verify tier's expiry)
    assert latest_round == {"a": 2, "b": 1, "c": 2, "d": 2}


def test_zero_row_rows_only_verdict_is_not_clean(tmp_path):
    # Round-7 VERDICT item 2: a rows-only verdict with spark_rows == 0
    # attests nothing (a completely broken operator yields the identical
    # verdict), so it must count as a FAILURE and re-float the key instead
    # of sinking it to the back of the rotation as "verified" — the
    # dedup_lsh_cosine r7 case.
    import json

    from parallel_mapreduce_wordcounting_spark.registry import _load_driver_verdicts

    empty = {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": 0, "oracle_rows": None, "err": "no_oracle"}
    nonempty = {"rows_match": None, "schema_match": None, "hash_match": None,
                "spark_rows": 1, "oracle_rows": None, "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"vacuous": empty, "attesting": nonempty})
    )
    hash_ok, rows_only_clean, _ = _load_driver_verdicts(tmp_path)
    assert "vacuous" not in rows_only_clean  # 0 rows: re-floats to the front
    assert "vacuous" not in hash_ok
    assert "attesting" in rows_only_clean


def test_reverify_tier_expires_after_fresh_verdict():
    # A REVERIFY key whose newest verdict is >= REVERIFY_MIN_ROUND must NOT
    # occupy a re-verify slot — the request expires on its own once the
    # driver lands a fresh verdict, no hand-editing of the set required.
    from parallel_mapreduce_wordcounting_spark.registry import (
        _emission_order,
        _reverify_pending,
    )

    order = _emission_order()
    verified = driver_verified()
    unverified = sorted(set(REGISTRY) - verified)
    tier1 = order[len(unverified) :][: len(REVERIFY_KEYS)]
    for k in REVERIFY_KEYS & verified:
        if not _reverify_pending(k):
            assert k not in tier1, f"{k} has a fresh verdict but still re-floats"


def test_oracle_sql_keys_subset_of_queries():
    q = queries()
    o = oracle_sql()
    assert set(o) <= set(q)
    assert all(isinstance(s, str) and s.strip() for s in o.values())


def test_reverify_literal_has_no_repeated_key():
    # A dict literal keeps the LAST value of a repeated key, so a stale
    # stamp can hide behind a newer one without any runtime trace; only
    # the source shows the repeat.
    import ast
    from pathlib import Path

    from parallel_mapreduce_wordcounting_spark import registry

    tree = ast.parse(Path(registry.__file__).read_text())
    (literal,) = [
        node.value
        for node in ast.walk(tree)
        if isinstance(node, ast.AnnAssign)
        and isinstance(node.target, ast.Name)
        and node.target.id == "REVERIFY_MIN_ROUNDS"
    ]
    keys = [k.value for k in literal.keys]
    repeated = sorted({k for k in keys if keys.count(k) > 1})
    assert not repeated, f"REVERIFY_MIN_ROUNDS repeats {repeated}"
