"""Benchmark runner: executes the registry's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints the full results as ONE JSON line, followed by a COMPACT
summary JSON line sized to fit the external driver's ~2000-char output
capture window (see the comment at the end of main(); the compact line
is printed last so the capture's tail always contains one complete,
parseable payload).

Each query's timing covers the registered callable plus a count()
action. Most queries return a lazy plan (the count executes it);
queries that manage caches or streams materialize internally, so their
number includes that materialization — timings are comparable run-to-
run, which is what the per-round BENCH comparison needs.

RUN PROTOCOL (read before comparing numbers across runs/rounds):
- Run on a QUIET machine. A bench started right after a pytest pass
  (page cache churn, lingering JVMs, OS write-back of scratch dirs)
  inflates I/O-heavy queries 30%+ — round 2 published a 1.59x phantom
  "regression" on byte-identical code this way. Cool down ~1 min after
  any test run; `uptime` load should be near idle.
- The three scratch-file queries (parquet_partitioned_roundtrip,
  csv round-trips, bucketed joins) are the contention canaries: if
  they regress together while pure-compute queries hold, it's machine
  state, not code.
- Treat >1.2x total drift round-over-round as a blocker to explain
  (re-run after cool-down before believing it), not a number to
  publish.
- The host can also be throttled EXTERNALLY (hypervisor noisy
  neighbor): observed a 2.8x uniform inflation with zero local load,
  confirmed by a pure-Python compute loop slowing 2.3x at the same
  moment. The JSON therefore carries `steal_jiffies` (delta of
  /proc/stat's steal column across the run) and `cpu_probe_sec` (a
  fixed 20M-iteration loop timed before the queries): compare those
  before comparing wall times — a run with probe >2s or steal in the
  thousands is measuring the neighbor, not the code.
- Reference totals on this container at sf0.1, local[8]: ~28-30s.

SCALE CHECK: after the main block, the same headline set runs once at
sf1 (10x rows, deterministically derived from sf0.1 by
scripts/gen_scale_data.py into benchdata/sf1 — auto-generated if
absent; set SPARK_GRAFT_SKIP_SCALE=1 to skip). The `scale_check` JSON
block records per-query wall, the per-query sf1/sf0.1 wall ratio, AND
the output-row ratio (pair-generating dedup queries legitimately emit
superlinear output — the wall ratio is only judgeable next to the
output ratio): the designed plans claim sublinear scaling (partial
aggregation, broadcast joins, LSH banding), so a query whose wall
ratio far exceeds both the 10x data ratio and its own output growth is
flagged superlinear — plan-assertion claims about 100 TB behavior get
an empirical check, not just .explain() inspection. The scale block
runs under the SAME noise gate + retry as the main block and carries
its own `noise_gate.accepted`."""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time


#: Driver output-capture budget for the final compact line (the driver
#: records only the last ~2000 chars and parses the JSON found there).
TAIL_BUDGET = 1900


def build_drop_order(
    accepted: bool, scale_accepted: bool | None, spot_accepted: bool | None
) -> list[tuple]:
    """Compact-line field drops, least valuable first (r15 rebuild per
    the r14 verdict — the r14 artifact shed the headline ``q_min`` at
    priority 3 while a REJECTED spot block's attempt triples survived
    to the doomsday tail, so PERF_r14 got ``n_common: 0`` and an empty
    ``per_query``: the driver could not compute a single per-query
    speedup):

    1. attempt histories of ACCEPTED blocks (the gate passed; the
       triples are redundant with value/steal/probe);
    2. ALL remaining attempt histories — including the exculpatory
       ones for accepted:false blocks (each block's headline
       steal/probe fields survive regardless, so the environment
       evidence is never fully lost);
    3. spotlight per-query mins and ratios, then trailing flags and
       memo keys;
    4. a doomsday tail guaranteeing the line ALWAYS fits: the headline
       ``q_min`` and finally ``scale.q_min`` — per-query mins are the
       driver's round-over-round comparison contract and must outlive
       every forensic field; scale.q_min goes last of all (the 10x
       per-query evidence is the artifact's scarcest content).

    spot ``names`` are never dropped (the history-driven rotation
    reads them back from canonical wrappers)."""
    drops: list[tuple] = []
    if spot_accepted:
        drops.append(("spot", "att"))
    if accepted:
        drops.append(("att",))
    if scale_accepted:
        drops.append(("scale", "att"))
    drops += [
        ("spot", "att"),
        ("att",),
        ("scale", "att"),
        ("spot", "q_min_scale"),
        ("spot", "q_min"),
        ("spot", "ratio"),
        ("trailing_flags",),
        ("scale", "trailing_flags"),
        ("memo",),
        ("scale", "memo"),
        ("q_min",),
        ("scale", "q_min"),
    ]
    return drops


def shrink_to_budget(
    compact: dict, drops: list[tuple], budget: int = TAIL_BUDGET
) -> str:
    """Serialize ``compact``, dropping fields in ``drops`` order until
    the line fits ``budget``. Mutates ``compact``; returns the line."""
    s = json.dumps(compact, separators=(",", ":"))
    for drop in drops:
        if len(s) <= budget:
            break
        node = compact
        for k in drop[:-1]:
            node = node.get(k, {})
        node.pop(drop[-1], None)
        s = json.dumps(compact, separators=(",", ":"))
    return s


def spotlight_seen(records: list[dict]) -> dict[str, int]:
    """name -> latest round it was spotlighted in, over already-parsed
    canonical bench records (module-level for unit pinning, like
    build_drop_order).

    A spot block whose SCALE half was gate-rejected does NOT count as
    coverage: every sf1 min in such a record came from steal-
    contaminated windows (r12: the ML batch published 7.9x/4.6x ratios
    out of a 1801-3167-jiffy block), so the batch re-enters the
    no-repeat queue instead of being marked done. The MAIN half's
    acceptance is not required — ratios use min-of-attempts, and the
    scale mins are the scarce signal."""
    seen: dict[str, int] = {}
    for rec in records:
        spot = rec.get("spot") or rec.get("spotlight") or {}
        rnd = spot.get("round")
        if not isinstance(rnd, int):
            continue
        acc = spot.get("accepted")
        if isinstance(acc, list) and len(acc) == 2 and acc[1] is False:
            continue
        names = spot.get("names") or list(
            spot.get("ratio") or spot.get("q_min") or {}
        )
        for n in names:
            seen[n] = max(seen.get(n, rnd), rnd)
    return seen


def _steal_jiffies() -> int:
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except Exception:
        return -1


def _cpu_probe() -> float:
    t0 = time.perf_counter()
    s = 0
    for i in range(20_000_000):
        s += i * i
    return round(time.perf_counter() - t0, 2)


def main() -> None:
    # The session factory keys its local-fixture shape off the env
    # contract — pin it here so a bare `python bench.py` still gets the
    # local[N] master and fixture-scale scan splits.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "32")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from big_data_competition_dxc_spark import plans
    from big_data_competition_dxc_spark.session import get_spark

    plans.load_all()
    spark = get_spark("bdc-dxc-bench")
    spark.sparkContext.setLogLevel("ERROR")

    from big_data_competition_dxc_spark.sources import TABLES, load

    def _warm_tables(block_dir: str) -> None:
        """Warm the JVM + file-index + page caches for a block's tables
        so the first timed query doesn't absorb session startup or cold
        file listing (we measure queries, not boot). Runs per BLOCK:
        r5's sf1 scale block skipped this and its small-denominator
        queries (topk_days_per_user: 0.3s main) picked up cold-read
        jitter worth 2-3x in the published wall ratio."""
        for t in TABLES:
            try:
                load(spark, block_dir, t).count()
            except Exception:
                pass  # missing table: the per-query loop reports it as -1

    headline = {n: e for n, e in plans.QUERIES.items() if e.bench}

    def _release_leaked_state() -> None:
        """Release every memo, cached frame and persisted RDD between
        queries (plans/memos.py clear_all): localCheckpoint pins blocks
        for the session lifetime, and without this each checkpointing
        query's blocks accumulate across the ~28 timed runs and evict
        later queries' caches — observed as minhash_dedup_verified
        reading 38s in the sf1 block vs 8.3s in a fresh session. The
        cleanup runs OUTSIDE the per-query timer: each query still pays
        its own materialization cost."""
        from big_data_competition_dxc_spark.plans.memos import clear_all

        try:
            clear_all()
        except Exception:  # noqa: BLE001 - cleanup must never fail the bench
            pass

    def run_block(
        block_dir: str,
        queryset: dict | None = None,
    ) -> tuple[dict[str, float], dict[str, int], dict[str, bool], float]:
        from big_data_competition_dxc_spark.plans.memos import consume_warm_hits

        block: dict[str, float] = {}
        rows: dict[str, int] = {}
        warm: dict[str, bool] = {}
        t_all = time.perf_counter()
        for name, entry in sorted((queryset or headline).items()):
            consume_warm_hits()  # reset: attribute hits to THIS query
            t0 = time.perf_counter()
            try:
                df = entry.fn(spark, block_dir)
                n = df.count()
                block[name] = round(time.perf_counter() - t0, 3)
                rows[name] = n
                # measured time rode a pre-derived session memo (r9
                # verdict item on attribution: a memo-warm 0.23s is
                # consumer cost, not standalone query cost)
                warm[name] = consume_warm_hits() > 0
                print(
                    f"# {name}: {block[name]}s rows={n}"
                    + (" memo-warm" if warm[name] else ""),
                    file=sys.stderr,
                )
            except Exception as exc:  # noqa: BLE001 - bench must always emit JSON
                block[name] = -1.0
                rows[name] = -1
                warm[name] = False
                print(f"# {name}: FAILED {exc}", file=sys.stderr)
            _release_leaked_state()
        return block, rows, warm, round(time.perf_counter() - t_all, 3)

    # Noise gate (RUN PROTOCOL made executable): a run with hypervisor
    # steal in the thousands or a slow compute probe is measuring the
    # neighbor, not the code — rounds 2 and 3 both published such
    # numbers. Retry the main block up to MAX_ATTEMPTS until an attempt
    # passes the gate; if none does, publish the fastest attempt and
    # say so in `noise_gate.accepted`.
    MAX_ATTEMPTS = 5
    STEAL_GATE = 1000
    PROBE_GATE = 2.0
    # Reference probe for cross-round normalization: the r4 bench ran
    # at cpu_probe 0.91s. A clean gate still admits ±30% machine-speed
    # drift (r5: probe 1.11s inflated every query 25-40% in lockstep
    # and published a phantom 30.44s vs r4's 22.97s on plan-identical
    # code). `value_probe_normalized` = wall x (PROBE_BASELINE / probe)
    # rescales each block to r4-reference machine speed so
    # round-over-round comparison doesn't need forensic dev-log
    # reconstruction. Raw wall stays the headline `value`.
    PROBE_BASELINE = 0.91

    def _normalized(total: float, probe: float) -> float | None:
        if total <= 0 or probe <= 0:
            return None
        return round(total * PROBE_BASELINE / probe, 2)
    def gated_block(
        block_dir: str,
        min_attempts: int = 1,
        queryset: dict | None = None,
        max_attempts: int | None = None,
    ) -> dict:
        """Run one query block under the noise gate; publish per-query
        MIN across attempts (``queries_min``). BOTH the main sf0.1
        block and the sf1 scale block go through this — round 4
        published a scale block with steal=1706 whose contaminated
        ratios contradicted SCALING.md, exactly because the gate only
        wrapped the main block.

        ``min_attempts``: run at least this many attempts even when the
        first is gate-clean (the r6 canonical scale block recorded
        corpus_curation_pipeline at 10.95s while a same-session dev run
        on the identical plan read 4.26s — block-level probe
        normalization can't re-scale PER-QUERY jitter). Every
        GATE-FAILED attempt escalates the required attempt count by one
        (capped at MAX_ATTEMPTS): the r7 canonical scale block stopped
        at 2 attempts although attempt 1 failed the steal gate, so its
        published mins came from a single clean-ish window and still
        read ~2x above the dev artifact on identical plans.

        The published block stats come from the BEST attempt, where
        clean attempts strictly outrank gate-failed ones: a dirty-but-
        faster attempt must never overwrite a clean one (it would flip
        accepted=False and publish contaminated timings despite a clean
        attempt existing); among attempts of equal cleanliness the
        faster wins."""
        cap = MAX_ATTEMPTS if max_attempts is None else max_attempts
        best: dict = {}
        attempts = []
        all_timings: list[dict] = []
        all_warm: list[dict] = []
        _warm_tables(block_dir)
        required = max(1, min_attempts)
        while len(attempts) < required:
            probe_a = _cpu_probe()
            steal0 = _steal_jiffies()
            timings_a, rows_a, warm_a, total_a = run_block(block_dir, queryset)
            steal_a = _steal_jiffies() - steal0
            attempts.append(
                {"value": total_a, "steal_jiffies": steal_a, "cpu_probe_sec": probe_a}
            )
            all_timings.append(timings_a)
            all_warm.append(warm_a)
            clean = 0 <= steal_a < STEAL_GATE and probe_a < PROBE_GATE
            if (
                not best
                or (clean and not best["accepted"])
                or (clean == best["accepted"] and total_a < best["total"])
            ):
                best = {
                    "timings": timings_a,
                    "rows": rows_a,
                    "total": total_a,
                    "steal": steal_a,
                    "probe": probe_a,
                    "accepted": clean,
                }
            if not clean:
                required = min(required + 1, cap)
                print(
                    f"# noise gate FAILED (steal={steal_a}, probe={probe_a}s) — "
                    f"escalating to {required} attempts",
                    file=sys.stderr,
                )
        best["attempts"] = attempts
        qmin: dict[str, float] = {}
        qwarm: dict[str, bool] = {}
        for t, w in zip(all_timings, all_warm):
            for n, v in t.items():
                if v > 0 and (n not in qmin or v < qmin[n]):
                    qmin[n] = v
                    qwarm[n] = w.get(n, False)
        best["queries_min"] = {
            n: qmin.get(n, best["timings"][n]) for n in best["timings"]
        }
        # queries whose PUBLISHED min came from a memo-warm execution —
        # their q_min is consumer-path cost on a pre-derived session
        # memo, not a standalone derivation (self-attributing headline
        # deltas, r9 verdict item 4)
        best["memo_warm"] = sorted(n for n in best["timings"] if qwarm.get(n))
        return best

    here = os.path.dirname(os.path.abspath(__file__))

    def _round_no(path: str) -> int:
        # bench_r12_dev2.json must parse as round 12, not 122 — take
        # only the digits attached to the `_r` marker.
        m = re.search(r"_r(\d+)", os.path.basename(path))
        return int(m.group(1)) if m else -1

    def _trailing_mins() -> tuple[
        dict[str, float], dict[str, float], dict[str, float], dict[str, float], int
    ]:
        """Per-query trailing minimum across every recorded bench
        artifact (main block and scale block separately), the same
        minimum restricted to the LAST TWO bench rounds, plus the
        upcoming round number (1 + latest canonical round). A current
        min is flagged as a regression-or-noise item to explain only
        when it is above 1.5x the all-history min AND above
        1.3x + 0.25s the recent min — advisory next to the noise gate.
        The recent band matters because the all-history min is a
        RATCHET: it converges on the best single reading ever recorded
        (e.g. minhash_dedup_verified's 1.21s, one r12 window, against
        a 1.6-2.2s r8-r14 band), after which every normal reading of a
        jittery family flags forever; the fixtures also regenerate
        per round (id schemes and document content shift), so readings
        from distant rounds are not strictly comparable. The absolute
        0.25s guard keeps sub-second queries from flagging on JVM/GC
        noise that is below local-mode measurement resolution.

        Three artifact shapes coexist: the committed bench_r*_dev.json
        files are this script's RAW full line; the canonical
        BENCH_r*.json files are the driver's WRAPPER
        ``{n, rc, tail, parsed}`` whose ``parsed`` is the full line
        (r1-r4), null (r5-r7, line outgrew the capture window), or —
        from r8 on — the COMPACT summary line (``q_min`` /
        ``scale.q_min`` keys). All three are consumed; unparseable
        wrappers contribute nothing."""
        main_min: dict[str, float] = {}
        scale_min: dict[str, float] = {}
        recent_main: dict[str, float] = {}
        recent_scale: dict[str, float] = {}
        latest = 0

        def _absorb(target: dict[str, float], qs: dict) -> None:
            for n, v in (qs or {}).items():
                if isinstance(v, (int, float)) and v > 0:
                    if n not in target or v < target[n]:
                        target[n] = v

        # dev artifacts number up (bench_r13_dev2.json, ...) — the old
        # `_dev.json` glob saw only the first per round, so the recent
        # window missed most committed readings while still absorbing
        # old outliers. Rejected-window artifacts are included too:
        # a steal-contaminated reading is high, and mins only absorb
        # downward, so they cannot pollute the floor.
        paths = glob.glob(os.path.join(here, "BENCH_r*.json")) + glob.glob(
            os.path.join(here, "bench_r*_dev*.json")
        )
        for path in paths:
            if "BENCH_r" in os.path.basename(path):
                latest = max(latest, _round_no(path))
        # Dev artifacts of the current (not-yet-canonical) round also
        # count toward the recency cutoff so an in-round re-measurement
        # compares against its own round's readings.
        all_rounds = [_round_no(p) for p in paths]
        newest = max([latest] + [r for r in all_rounds if r > 0], default=0)
        for path in paths:
            try:
                with open(path) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            if not isinstance(rec, dict):
                continue
            if "parsed" in rec:  # driver wrapper
                rec = rec.get("parsed")
                if not isinstance(rec, dict):
                    continue
            is_recent = _round_no(path) >= newest - 1
            if rec.get("metric") == "headline_summary":  # compact shape
                blocks = (
                    (main_min, recent_main, rec.get("q_min")),
                    (scale_min, recent_scale, (rec.get("scale") or {}).get("q_min")),
                )
            else:
                sc = rec.get("scale_check") or {}
                blocks = (
                    (
                        main_min,
                        recent_main,
                        rec.get("queries_min_of_attempts") or rec.get("queries"),
                    ),
                    (
                        scale_min,
                        recent_scale,
                        sc.get("queries_min_of_attempts") or sc.get("queries"),
                    ),
                )
            for target, recent, qs in blocks:
                _absorb(target, qs)
                if is_recent:
                    _absorb(recent, qs)
        return main_min, scale_min, recent_main, recent_scale, latest + 1

    trail_main, trail_scale, recent_main, recent_scale, round_no = _trailing_mins()

    def _trailing_flags(
        current: dict[str, float],
        trail: dict[str, float],
        recent: dict[str, float],
    ) -> dict:
        flags = {}
        for n, v in current.items():
            if not (v > 0 and n in trail and v > 1.5 * trail[n]):
                continue
            r = recent.get(n)
            # No recent reading (first wall-clock record since the
            # window): the all-history rule stands alone.
            if r is not None and not (v > 1.3 * r and v - r > 0.25):
                continue
            flags[n] = {"current_min": v, "trailing_min": trail[n]}
            if r is not None:
                flags[n]["recent_min"] = r
        return flags

    # Spotlight rotation: the headline set has been frozen since r6
    # (modulo the documented r8 addition, see the compact-line note), so
    # 200+ registry queries have correctness rows but no wall-clock
    # history. Each round benches SPOTLIGHT_K additional queries at
    # both scales over the non-headline registry ordered
    # heavy-families-first (graph, audit, streaming, behavioral — the
    # ones whose plan regressions would hurt most at 100 TB); any
    # flagged ratio gets a plan audit in PLANS.md.
    #
    # Selection (r9, replacing the r8 arithmetic offset): the offset
    # form ((round-8)*K) % len(pool) aliased whenever the pool grew or
    # reordered — registry growth could repeat some queries and skip
    # others forever. Coverage is now HISTORY-DRIVEN: the recorded
    # artifacts (BENCH_r*.json wrappers + bench_r*_dev.json full lines)
    # say which queries have ever been spotlighted and in which round;
    # each round picks the K longest-unspotlighted (never-spotlighted
    # first), ties broken by the heavy-families-first pool order. New
    # registry entries join the never-spotlighted front of the queue
    # automatically; renames simply re-enter as new names.
    SPOTLIGHT_K = 8
    _HEAVY = {
        "graph": 0,
        "audit": 1,
        "streaming": 2,
        "behavior": 3,
        "ml": 4,
        "dedup": 5,
        "similarity": 6,
        "textops": 7,
    }

    def _spotlight_history() -> dict[str, int]:
        """name -> latest round it was spotlighted in, from CANONICAL
        driver wrappers only (BENCH_r*.json). Committed dev artifacts
        are deliberately excluded: a builder-side dev run earlier in
        the same round would otherwise mark the round's batch as
        already-covered and push the driver's canonical run onto the
        NEXT batch — the canonical record is the coverage that counts.
        Unparseable or pre-spotlight wrappers contribute nothing."""
        records = []
        for path in glob.glob(os.path.join(here, "BENCH_r*.json")):
            try:
                with open(path) as f:
                    rec = json.load(f)
            except (OSError, ValueError):
                continue
            if not isinstance(rec, dict):
                continue
            if "parsed" in rec:  # driver wrapper
                rec = rec.get("parsed")
                if not isinstance(rec, dict):
                    continue
            records.append(rec)
        return spotlight_seen(records)

    def _spotlight_names(round_no: int) -> list[str]:
        def fam(entry) -> int:
            parts = (entry.fn.__module__ or "").split(".")
            return min((_HEAVY.get(p, 9) for p in parts[-2:]), default=9)

        pool = [
            n
            for n, _e in sorted(
                plans.QUERIES.items(), key=lambda kv: (fam(kv[1]), kv[0])
            )
            if n not in headline
        ]
        if not pool:
            return []
        hist = _spotlight_history()
        # stable sort: never-spotlighted (-1) lead in pool order, then
        # oldest-round-first — a true no-repeat-until-exhausted queue
        pool.sort(key=lambda n: hist.get(n, -1))
        return pool[:SPOTLIGHT_K]

    # min_attempts=2 on BOTH blocks: the per-query minima that feed the
    # 10x ratios must have symmetric warmth (with the scale block alone
    # re-attempting, memoized queries like knn published a warm sf1 min
    # against a cold sf0.1 single attempt — a flattering 0.4x "ratio"
    # that measured the memo, not the scaling).
    # Builder-side SPOT-ONLY mode: skip the headline block (and pair it
    # with SPARK_GRAFT_SKIP_SCALE) so a steal-rejected spotlight batch
    # can re-measure in a window that has NOT already burned the host's
    # CPU-burst credit on ~6 minutes of headline+scale blocks first —
    # the r14 diagnosis of why spot sf1 halves kept reading 15k+ steal
    # at the END of a full run while the same machine reads ~1 steal/s
    # idle. The artifact marks itself headline_skipped; dev-only (the
    # canonical driver run never sets this).
    spot_only = bool(os.environ.get("SPARK_GRAFT_SPOT_ONLY"))
    if spot_only:
        main_run = {
            "total": None,
            "timings": {},
            "queries_min": {},
            "rows": {},
            "memo_warm": {},
            "steal": None,
            "probe": None,
            "accepted": False,
            "attempts": [],
        }
    else:
        main_run = gated_block(sf_dir, min_attempts=2)
        _release_leaked_state()
    timings = main_run["timings"]
    total = main_run["total"]
    steal_main = main_run["steal"]
    probe = main_run["probe"]
    accepted = main_run["accepted"]
    attempts = main_run["attempts"]

    # ---- sf1 fixture resolution (shared by the spotlight's 10x half
    # and the headline-at-10x scale block; spot-only mode resolves it
    # but skips the scale block itself) ----
    sf1_dir = None
    if not os.environ.get("SPARK_GRAFT_SKIP_SCALE"):
        sf1_dir = os.environ.get(
            "SPARK_GRAFT_SF1_DIR", os.path.join(here, "benchdata", "sf1")
        )
        if not os.path.isdir(sf1_dir):
            try:
                sys.path.insert(0, here)
                from scripts.gen_scale_data import generate

                print("# generating sf1 scale data (10x sf0.1)", file=sys.stderr)
                sf1_dir = generate()
            except Exception as exc:  # noqa: BLE001
                print(f"# scale-data generation failed: {exc}", file=sys.stderr)
                sf1_dir = None

    # ---- spotlight block: rotating per-round coverage (see
    # _spotlight_names) — same gated min-of-attempts protocol at both
    # scales; skipped alongside the scale block when the sf1 fixture is
    # unavailable (ratios are the point). Runs BEFORE the headline-at-
    # 10x scale block (r14 verdict item 7): both r13's and r14's
    # canonical spot sf1 halves were steal-rejected because the spot
    # ran LAST, after ~6 minutes of headline+scale had burned the
    # host's CPU-burst credit. The blocks are independent — each
    # gated_block warms its own tables and session memos are cleared
    # between blocks — so the reorder changes which block eats the
    # dirtiest window, not what any block measures. ----
    spotlight = None
    if not os.environ.get("SPARK_GRAFT_SKIP_SPOTLIGHT"):
        # Builder-side re-spotlight: SPARK_GRAFT_SPOT_NAMES=a,b,c pins
        # the batch (e.g. re-measuring a steal-rejected block in a
        # clean window). Dev artifacts never feed _spotlight_history,
        # so an override can't push the driver's canonical queue.
        spot_env = os.environ.get("SPARK_GRAFT_SPOT_NAMES")
        if spot_env:
            requested = [n for n in spot_env.split(",") if n]
            unknown = [n for n in requested if n not in plans.QUERIES]
            if unknown:
                # fail fast: a typo would otherwise silently measure
                # fewer (or zero) queries, defeating the clean-window
                # re-measurement this override exists for
                raise SystemExit(
                    f"SPARK_GRAFT_SPOT_NAMES: unknown queries {unknown} "
                    f"(registry has {len(plans.QUERIES)} names)"
                )
            spot_names = requested
        else:
            spot_names = _spotlight_names(round_no)
        spot_set = {n: plans.QUERIES[n] for n in spot_names}
        if spot_set:
            print(f"# spotlight r{round_no}: {spot_names}", file=sys.stderr)
            # escalation capped at 3 for spotlight blocks: the rotation
            # can land heavy queries (r8: a 93s sf1 triangle count), and
            # 5 attempts of such a block would dominate the whole bench
            # wall for a secondary artifact
            sp_main = gated_block(
                sf_dir, min_attempts=2, queryset=spot_set, max_attempts=3
            )
            _release_leaked_state()
            spotlight = {
                "round": round_no,
                "names": spot_names,
                "sf_main": {
                    "value": sp_main["total"],
                    "queries": sp_main["timings"],
                    "queries_min_of_attempts": sp_main["queries_min"],
                    "steal_jiffies": sp_main["steal"],
                    "cpu_probe_sec": sp_main["probe"],
                    "accepted": sp_main["accepted"],
                    "attempts": sp_main["attempts"],
                },
            }
            if sf1_dir and os.path.isdir(sf1_dir):
                sp_sc = gated_block(
                    sf1_dir, min_attempts=2, queryset=spot_set, max_attempts=3
                )
                _release_leaked_state()
                m_min, s_min = sp_main["queries_min"], sp_sc["queries_min"]
                m_rows, s_rows = sp_main["rows"], sp_sc["rows"]
                spotlight["sf_scale"] = {
                    "value": sp_sc["total"],
                    "queries": sp_sc["timings"],
                    "queries_min_of_attempts": s_min,
                    "steal_jiffies": sp_sc["steal"],
                    "cpu_probe_sec": sp_sc["probe"],
                    "accepted": sp_sc["accepted"],
                    "attempts": sp_sc["attempts"],
                }
                spotlight["ratio_vs_main"] = {
                    n: (
                        round(s_min[n] / m_min[n], 1)
                        if m_min.get(n, 0) > 0 and s_min.get(n, 0) > 0
                        else None
                    )
                    for n in spot_names
                }
                spotlight["output_ratio_vs_main"] = {
                    n: (
                        round(s_rows[n] / m_rows[n], 1)
                        if m_rows.get(n, 0) > 0 and s_rows.get(n, -1) >= 0
                        else None
                    )
                    for n in spot_names
                }

    # ---- scale check: same headline set at 10x (see docstring) ----
    scale_check = None
    if sf1_dir and os.path.isdir(sf1_dir) and not spot_only:
        sc = gated_block(sf1_dir, min_attempts=2)
        _release_leaked_state()
        sc_timings, sc_rows = sc["timings"], sc["rows"]
        sc_min, main_min = sc["queries_min"], main_run["queries_min"]
        main_rows = main_run["rows"]
        scale_check = {
            "sf": 1.0,
            "value": sc["total"],
            "unit": "sec",
            "queries": sc_timings,
            # per-query min across the block's attempts — the number
            # ratios are computed from (see gated_block docstring)
            "queries_min_of_attempts": sc_min,
            "memo_warm": sc["memo_warm"],
            "ratio_vs_main": {
                n: (
                    round(sc_min[n] / main_min[n], 1)
                    if main_min.get(n, 0) > 0 and sc_min.get(n, 0) > 0
                    else None
                )
                for n in sc_timings
            },
            # Output-row ratio at 10x data: wall ratios are only
            # interpretable next to these — a pair-generating query
            # whose OUTPUT grows superlinearly (e.g. near-dup pairs)
            # is allowed superlinear wall from result volume alone.
            "output_ratio_vs_main": {
                n: (
                    round(sc_rows[n] / main_rows[n], 1)
                    if main_rows.get(n, 0) > 0 and sc_rows[n] >= 0
                    else None
                )
                for n in sc_rows
            },
            "steal_jiffies": sc["steal"],
            "cpu_probe_sec": sc["probe"],
            "value_probe_normalized": _normalized(sc["total"], sc["probe"]),
            "probe_baseline_sec": PROBE_BASELINE,
            "noise_gate": {
                "steal_gate": STEAL_GATE,
                "probe_gate_sec": PROBE_GATE,
                "accepted": sc["accepted"],
                "attempts": sc["attempts"],
            },
            "trailing_flags": _trailing_flags(
                sc_min, trail_scale, recent_scale
            ),
        }

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min_of_attempts": main_run["queries_min"],
        "memo_warm": main_run["memo_warm"],
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        # contention diagnostics (see RUN PROTOCOL in docstring):
        # hypervisor steal during the main block + a fixed pure-Python
        # compute probe timed just before it
        "steal_jiffies": steal_main,
        "cpu_probe_sec": probe,
        # raw wall rescaled to the r4 reference machine speed (see
        # PROBE_BASELINE comment) — the number to compare across rounds
        "value_probe_normalized": (
            _normalized(total, probe) if total is not None else None
        ),
        "probe_baseline_sec": PROBE_BASELINE,
        "noise_gate": {
            "steal_gate": STEAL_GATE,
            "probe_gate_sec": PROBE_GATE,
            "accepted": accepted,
            "attempts": attempts,
        },
        # only comparable when this run is at the history's sf (0.1) —
        # a dev run at another sf must not emit bogus flags
        "trailing_flags": (
            _trailing_flags(main_run["queries_min"], trail_main, recent_main)
            if sf == "0.1"
            else {}
        ),
    }
    if spot_only:
        out["headline_skipped"] = True  # dev spot-only artifact marker
    if scale_check is not None:
        out["scale_check"] = scale_check
    if spotlight is not None:
        out["spotlight"] = spotlight
    print(json.dumps(out))

    # ---- compact summary line, printed LAST ----
    # Forensics on BENCH_r01..r07: the external driver records only the
    # final ~2000 characters of the run's output and parses the JSON
    # line it finds INSIDE that window ("parsed" went null from r5 on,
    # exactly when the full line outgrew 2000 chars, and the r7 review
    # had to reconstruct the scale block from ratio denominators). The
    # full line above remains the complete artifact (committed per
    # round as bench_r*_dev.json); this last line is the
    # decision-grade subset — block totals, gate verdicts, per-query
    # min-of-attempts at both scales, spotlight ratios, trailing
    # flags — kept under the capture window by construction (fields
    # are dropped bulk-first if the budget is ever exceeded).
    def _r2(d: dict) -> dict:
        return {k: round(v, 2) for k, v in sorted(d.items())}

    def _att(attempt_list: list[dict]) -> list[list]:
        """Compact per-attempt [wall_total, steal, probe] triples — the
        environment floor of a block. With these in the canonical
        artifact, an accepted:false block is self-explaining (the r8
        scale block shipped accepted:false/steal=1597 and a reader had
        to cross-check the committed dev artifact to learn the numbers
        themselves were fine)."""
        return [
            [a["value"], a["steal_jiffies"], a["cpu_probe_sec"]] for a in attempt_list
        ]

    compact = {
        "metric": "headline_summary",
        "value": total,
        "unit": "sec",
        "sf": out["sf"],
        "probe": probe,
        "steal": steal_main,
        "accepted": accepted,
        "att": _att(attempts),
        "normalized": out["value_probe_normalized"],
        # headline-set change history (value/normalized comparability):
        # frozen 16 queries r6-r7; r8 added the two bounded simhash
        # twins (simhash_neardup_summary, simhash_neardup_topk_per_doc)
        # — cross-round totals compare on the r7 16-query subset via
        # q_min, or here via n_queries.
        "n_queries": len(timings),
        "trailing_flags": sorted(out["trailing_flags"]),
        # queries whose published min rode a warm session memo — their
        # q_min is consumer cost, not standalone derivation cost
        "memo": main_run["memo_warm"],
        "q_min": _r2(main_run["queries_min"]),
    }
    if scale_check is not None:
        compact["scale"] = {
            "value": scale_check["value"],
            "probe": scale_check["cpu_probe_sec"],
            "steal": scale_check["steal_jiffies"],
            "accepted": scale_check["noise_gate"]["accepted"],
            "att": _att(scale_check["noise_gate"]["attempts"]),
            "trailing_flags": sorted(scale_check["trailing_flags"]),
            "memo": scale_check["memo_warm"],
            "q_min": _r2(scale_check["queries_min_of_attempts"]),
        }
    if spotlight is not None and "ratio_vs_main" in spotlight:
        compact["spot"] = {
            "round": spotlight["round"],
            # names are never budget-dropped: the r9 history-driven
            # rotation reads them back from canonical wrappers
            "names": spotlight["names"],
            "ratio": spotlight["ratio_vs_main"],
            "q_min": _r2(spotlight["sf_main"]["queries_min_of_attempts"]),
            "q_min_scale": _r2(spotlight["sf_scale"]["queries_min_of_attempts"]),
            "accepted": [
                spotlight["sf_main"]["accepted"],
                spotlight["sf_scale"]["accepted"],
            ],
            # per-attempt [wall_total, steal_jiffies, cpu_probe_sec] for
            # both spotlight blocks — an accepted:false block carries
            # its own environment evidence (r8 verdict item 4)
            "att": [
                _att(spotlight["sf_main"]["attempts"]),
                _att(spotlight["sf_scale"]["attempts"]),
            ],
        }
    drops = build_drop_order(
        accepted,
        scale_check is not None and compact["scale"]["accepted"],
        spotlight is not None
        and bool(compact.get("spot", {}).get("accepted"))
        and all(compact["spot"]["accepted"]),
    )
    print(shrink_to_budget(compact, drops))


if __name__ == "__main__":
    main()
