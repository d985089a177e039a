"""Smoke test of the driver contract in __spark_entry__.py."""

from __future__ import annotations

import importlib
import json


def test_entry_contract(spark):
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "user_id" in df.columns and "n_click" in df.columns

    qs = mod.queries()
    oracles = mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert "daily_rollup" in qs and "daily_rollup" in oracles


def test_rotation_order_live_is_permutation():
    """Whatever the live CORRECTNESS history says (it is driver-owned and
    mutates between rounds — the r6 lesson: asserting specific head
    positions against it flips as soon as the driver re-greens a bumped
    query), the rotation must always be a permutation of the registry."""
    mod = importlib.import_module("__spark_entry__")
    order = mod._rotation_order()
    from big_data_competition_dxc_spark import plans

    assert sorted(order) == sorted(plans.QUERIES)


def test_rotation_order_priorities(tmp_path):
    """Each rotation priority class, pinned against a SYNTHETIC
    CORRECTNESS history + CONTRACTS.json (tmp_path) so the test is
    independent of the driver-owned files at the repo root:

    1. a recorded-False verdict leads;
    2. a green query whose recorded contract fingerprint no longer
       matches the computed one (edited since proven) leads;
    3. a green query whose fingerprint still matches rotates normally;
    4. never-driver-checked queries rank before any green;
    5. greens order least-recently-checked first.
    """
    mod = importlib.import_module("__spark_entry__")
    from big_data_competition_dxc_spark import plans

    green = {
        "rows_match": True,
        "schema_match": True,
        "hash_match": True,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": None,
    }
    red = dict(green, hash_match=False)
    (tmp_path / "CORRECTNESS_r05.json").write_text(
        json.dumps({"pricing_summary": green})
    )
    (tmp_path / "CORRECTNESS_r06.json").write_text(
        json.dumps(
            {
                "daily_rollup": green,
                "join_theta_sql": red,
                "q12_priority_by_linestatus": green,
                "stratified_sample": green,
            }
        )
    )
    # q12's sidecar entry records a fingerprint that doesn't match the
    # current source (the changed-source case the mechanism exists
    # for); stratified_sample's entry matches, so it stays green.
    (tmp_path / mod.CONTRACTS_FILE).write_text(
        json.dumps(
            {
                "q12_priority_by_linestatus": {
                    "fingerprint": "0000deadbeef0000",
                    "proven_round": 6,
                },
                "stratified_sample": {
                    "fingerprint": mod._fingerprint(
                        plans.QUERIES["stratified_sample"]
                    ),
                    "proven_round": 6,
                },
            }
        )
    )

    order = mod._rotation_order(history_dir=str(tmp_path))
    assert sorted(order) == sorted(plans.QUERIES)
    pos = {n: i for i, n in enumerate(order)}

    # class 1+2: the red verdict and the fingerprint mismatch lead
    assert pos["join_theta_sql"] < 2
    assert pos["q12_priority_by_linestatus"] < 2
    # class 4: every never-checked query beats every green
    checked = {
        "pricing_summary",
        "daily_rollup",
        "join_theta_sql",
        "q12_priority_by_linestatus",
        "stratified_sample",
    }
    never = [n for n in plans.QUERIES if n not in checked]
    worst_never = max(pos[n] for n in never)
    greens = ["pricing_summary", "daily_rollup", "stratified_sample"]
    assert worst_never < min(pos[n] for n in greens)
    # class 5: greens are LRU — the r5-checked green precedes r6 greens
    assert pos["pricing_summary"] < pos["daily_rollup"]
    assert pos["pricing_summary"] < pos["stratified_sample"]


def test_rotation_order_empty_history(tmp_path):
    """No CORRECTNESS files and no sidecar: nothing is stale, everything
    is never-checked, registry order is preserved."""
    mod = importlib.import_module("__spark_entry__")
    from big_data_competition_dxc_spark import plans

    order = mod._rotation_order(history_dir=str(tmp_path))
    assert order == list(plans.QUERIES)


def test_contract_fingerprint_tracks_source_and_oracle():
    """The fingerprint must change when either the oracle or the
    function source changes, and be stable otherwise."""
    mod = importlib.import_module("__spark_entry__")
    from big_data_competition_dxc_spark.plans import QUERIES, QueryEntry

    entry = QUERIES["daily_rollup"]
    fp = mod._fingerprint(entry)
    assert fp == mod._fingerprint(entry)  # deterministic
    assert fp != mod._fingerprint(
        QueryEntry(fn=entry.fn, oracle=(entry.oracle or "") + " -- edited")
    )
    other = QUERIES["pricing_summary"]
    assert fp != mod._fingerprint(
        QueryEntry(fn=other.fn, oracle=entry.oracle)
    )


def test_contracts_sidecar_matches_current_tree():
    """Guard the round-start protocol: every CONTRACTS.json entry must
    either match the current computed fingerprint or belong to a query
    that _rotation_order ranks stale-fail (i.e. mismatches are
    intentional re-prove requests, not silent drift). Run
    `python scripts/update_contracts.py` at round start, BEFORE edits,
    to stamp newly driver-proven queries."""
    mod = importlib.import_module("__spark_entry__")
    from big_data_competition_dxc_spark import plans

    import os

    path = os.path.join(os.path.dirname(mod.__file__), mod.CONTRACTS_FILE)
    if not os.path.exists(path):
        return  # pre-bootstrap tree
    with open(path) as f:
        contracts = json.load(f)
    order = mod._rotation_order()
    pos = {n: i for i, n in enumerate(order)}
    n_mismatch = 0
    for name, rec in contracts.items():
        entry = plans.QUERIES.get(name)
        assert entry is not None, f"sidecar entry for unknown query {name}"
        if rec["fingerprint"] != mod._fingerprint(entry):
            n_mismatch += 1
            # a mismatch is a re-prove request: it must land inside the
            # driver's ~50-query sampling window at the rotation head
            assert pos[name] < 50, name


def test_helper_edit_flips_caller_fingerprint(tmp_path):
    """r9 verdict item 2: _fingerprint must hash the TRANSITIVE source
    of same-package callees (and referenced module constants), so an
    edit to a shared helper like connected_components flips its
    registered callers into the rotation window. Loads the same module
    three times from one path (identical caller source each time) with
    a helper-body edit and a constant edit, and asserts both flip the
    fingerprint while an identical reload does not."""
    import importlib.util
    import linecache
    import types

    base = (
        "CONST = 3\n"
        "def _helper(x):\n"
        "    return x + 1\n"
        "def caller(spark, sf_dir):\n"
        "    return _helper(CONST)\n"
    )
    variants = [
        base,
        base,  # identical reload — fingerprint must be stable
        base.replace("x + 1", "x + 2"),  # helper body edit
        base.replace("CONST = 3", "CONST = 4"),  # constant edit
    ]
    mod = importlib.import_module("__spark_entry__")
    path = tmp_path / "fp_probe.py"
    keep_alive, fps = [], []
    for src in variants:
        path.write_text(src)
        linecache.clearcache()
        spec = importlib.util.spec_from_file_location(
            "big_data_competition_dxc_spark._fp_probe", path
        )
        m = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(m)
        keep_alive.append(m)  # prevent id() reuse in _CALLEE_CACHE
        fps.append(
            mod._fingerprint(types.SimpleNamespace(fn=m.caller, oracle=None))
        )
    assert fps[0] == fps[1], "identical source must fingerprint identically"
    assert fps[0] != fps[2], "helper body edit must flip the caller"
    assert fps[0] != fps[3], "referenced constant edit must flip the caller"


def _stamping_violations(history, contracts, registry):
    """Pure core of the round-start stamping invariant (r8 verdict item
    3, phase-sensitivity fixed per the r9 verdict): every green row in
    a CORRECTNESS file must be stamped — EXCEPT that the newest file
    gets a one-round grace when it is strictly newer than the sidecar's
    stamp, because the driver drops CORRECTNESS_rN AFTER the builder's
    last commit of round N and the stamp is round N+1's first action.
    A gap of more than one round is never excused, and during the grace
    the PREVIOUS file is enforced instead (no older round may lag).

    history: list of (round_no, records_dict); contracts: the sidecar
    dict; registry: set of live query names. Returns violation strings.
    """
    mod = importlib.import_module("__spark_entry__")

    if not history:
        return []
    # Sort by round number ONLY — the payloads are dicts, and a history
    # holding two same-round entries (the r10 checkpoint crash: a
    # synthetic stamped+1 entry colliding with the real file the driver
    # just dropped) must not fall through to comparing dicts.
    history = sorted(history, key=lambda t: t[0])
    stamped = max(
        (
            e.get("proven_round", -1)
            for e in contracts.values()
            if isinstance(e, dict)
        ),
        default=-1,
    )
    newest = history[-1][0]
    if newest > stamped + 1:
        return [
            f"rounds r{stamped + 1}..r{newest} unstamped — more than the "
            "one-round post-driver-drop grace; run scripts/update_contracts.py"
        ]
    if newest > stamped:
        # post-driver-drop window: the newest file landed after the last
        # stamp (by construction, after the builder's final commit).
        # Enforce the previous ROUND instead — drop every entry carrying
        # the newest round number, not just the last one, so a history
        # holding duplicate newest-round entries is fully excused.
        history = [h for h in history if h[0] < newest]
        if not history:
            return []
    rnd, records = history[-1]
    return [
        name
        for name, rec in records.items()
        if mod._record_succeeded(rec)
        and name in registry
        and contracts.get(name, {}).get("proven_round", -1) < rnd
    ]


def _load_stamping_state():
    import glob
    import os

    mod = importlib.import_module("__spark_entry__")
    here = os.path.dirname(mod.__file__)
    history = []
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        rnd = int("".join(ch for ch in os.path.basename(path) if ch.isdigit()))
        with open(path) as f:
            history.append((rnd, json.load(f)))
    sidecar = os.path.join(here, mod.CONTRACTS_FILE)
    contracts = {}
    if os.path.exists(sidecar):
        with open(sidecar) as f:
            contracts = json.load(f)
    return history, contracts


def test_latest_green_queries_are_stamped():
    """The stamping invariant against the REAL tree. Green both right
    after the round-start stamp AND in the window after the driver
    drops a new CORRECTNESS file (one-round grace) — the r9 verdict's
    top item was that the old form failed at every judge checkpoint by
    construction."""
    from big_data_competition_dxc_spark import plans

    history, contracts = _load_stamping_state()
    if not history or not contracts:
        return  # pre-bootstrap tree
    lagging = _stamping_violations(history, contracts, set(plans.QUERIES))
    assert not lagging, (
        "run scripts/update_contracts.py at round start — stale/missing "
        f"sidecar entries: {lagging}"
    )


def test_stamping_invariant_post_driver_drop_simulation():
    """Simulates the judge-checkpoint state: a CORRECTNESS file one
    round newer than the sidecar's stamp must be excused (grace), an
    unstamped OLDER green row must still fail, and a two-round gap must
    fail.

    The base history is restricted to rounds <= the sidecar's stamp
    before the synthetic grace-round entry is appended (r10 verdict
    item 1): when the driver has already dropped the REAL stamped+1
    file, appending another stamped+1 entry onto the raw history would
    duplicate that round — the grace logic would excuse only one of the
    two and enforce the other, failing at every judge checkpoint."""
    from big_data_competition_dxc_spark import plans

    history, contracts = _load_stamping_state()
    if not history or not contracts:
        return  # pre-bootstrap tree
    registry = set(plans.QUERIES)
    stamped = max(e["proven_round"] for e in contracts.values())
    base = [h for h in history if h[0] <= stamped]
    if not base:
        return  # sidecar older than every file on disk — nothing to base on
    some_query = next(iter(registry))
    green = {"spark_rows": 1, "err": None}

    # 1. post-driver-drop: newest file is stamp+1 → grace, no violations
    simulated = base + [(stamped + 1, {some_query: green})]
    assert _stamping_violations(simulated, contracts, registry) == []

    # 2. ...but an unstamped green row in an OLDER file still fails
    broken = dict(contracts)
    victim = next(
        n
        for n, rec in base[-1][1].items()
        if importlib.import_module("__spark_entry__")._record_succeeded(rec)
        and n in registry
    )
    broken[victim] = {"fingerprint": "x", "proven_round": -1}
    assert victim in _stamping_violations(simulated, broken, registry)

    # 3. a two-round gap is never excused
    gapped = base + [(stamped + 2, {some_query: green})]
    out = _stamping_violations(gapped, contracts, registry)
    assert out and "grace" in out[0]


def test_stamping_invariant_at_judge_checkpoint_state():
    """Regression for the r10 checkpoint crash: pin the EXACT state the
    judge sees — a real CORRECTNESS_rN file one round newer than the
    sidecar stamp (the driver drops rN after the builder's last commit;
    the stamp is round N+1's first action). Both invariant entry points
    must stay green in that state, and a duplicated round number in the
    history (the collision that produced the TypeError) must be handled
    by the round-keyed sort rather than dict comparison."""
    from big_data_competition_dxc_spark import plans

    history, contracts = _load_stamping_state()
    if not history or not contracts:
        return  # pre-bootstrap tree
    registry = set(plans.QUERIES)
    newest_round, newest_records = max(history, key=lambda t: t[0])
    some_query = next(iter(registry))
    green = {"spark_rows": 1, "err": None}

    # Reconstruct the checkpoint: sidecar stamped only through N-1,
    # real rN file present. Grace must excuse rN and enforce r(N-1).
    checkpoint_contracts = {
        name: dict(e, proven_round=min(e["proven_round"], newest_round - 1))
        for name, e in contracts.items()
        if isinstance(e, dict)
    }
    assert (
        _stamping_violations(history, checkpoint_contracts, registry) == []
    ), "grace must excuse the driver-dropped newest file at a checkpoint"

    # A history carrying TWO entries for the newest round (the r10
    # crash shape) must not raise and must still grace both.
    collided = history + [(newest_round, {some_query: green})]
    assert (
        _stamping_violations(collided, checkpoint_contracts, registry) == []
    )


def test_central_memo_registry_clears_everything(spark):
    """Every session memo lives in the one central store of
    plans/memos.py, so one clear_all() releases them all — a
    free-floating module-level cache is the r8-advice leak class.
    Builds the simhash pair set and the ratings memo, asserts both sit
    in the store cached, then that clear_all empties the store and
    releases their blocks, and that a rebuild after clearing works."""
    from pyspark import StorageLevel

    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.ml import recommend
    from big_data_competition_dxc_spark.plans import memos
    from conftest import SF_TEST_DIR

    plans.load_all()

    def stored() -> set[str]:
        return {k[0] for k in memos._MEMOS}

    pairs = plans.QUERIES["simhash_neardup_pairs"].fn(spark, SF_TEST_DIR)
    pairs.count()
    ratings = recommend.cached_ratings(spark, SF_TEST_DIR)
    ratings.count()
    assert {"simhash_pairs", "ratings"} <= stored()
    assert pairs.storageLevel != StorageLevel.NONE
    assert ratings.storageLevel != StorageLevel.NONE
    memos.clear_all()
    assert not memos._MEMOS
    assert pairs.storageLevel == StorageLevel.NONE
    assert ratings.storageLevel == StorageLevel.NONE
    # second build after clearing must work (no stale state)
    plans.QUERIES["simhash_neardup_pairs"].fn(spark, SF_TEST_DIR).count()
    assert "simhash_pairs" in stored()
    memos.clear_all()
