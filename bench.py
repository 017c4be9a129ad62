"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": N, "unit": "sec",
"queries": {...}, "sf": ...}. The session is the engine's
``conf.local_session``, as the tests and scripts use it: sized from
the host (the CPUs this process may run on, a quarter of host memory
capped at 4g) unless $SPARK_GRAFT_CPUS / $SPARK_GRAFT_MEM say
otherwise, with AQE allowed to re-plan cached plans' partitioning.

Each query is executed via a noop write that forces full evaluation
without collecting result rows to the driver.

Sampling protocol (r8, VERDICT r7 #3 — restore median-of-3
comparability by shrinking the pass, not the statistics): pass 1
times EVERY query; passes 2..$SPARK_GRAFT_REPEATS (default 3) re-time
only the entries whose pass-1 wall time >= $SPARK_GRAFT_BENCH_SPLIT
seconds (default 1.4 — sized so 1 full pass + 2 heavy passes fit the
driver's ~560 s capture window at the current contract size). Heavy
entries report the MEDIAN of their samples — this host is a shared VM
with heavy run-to-run variance, so single-shot numbers are not
attributable (VERDICT round-1 item 9); the sub-split tail keeps its
single pass-1 sample (disclosed via tail_singles/split_s/heavy_n in
the artifact; classification by the cold pass only over-includes,
never under-includes, since cold >= warm). The soft wall-clock budget
still degrades by dropping whole passes if the host is slow that day —
repeats/estimator fields always say what actually happened.

r9 additions (VERDICT r8 #2 — make driver-run anomalies attributable):
the stdout artifact carries RAW per-sample arrays for the slowest
multi-sampled entries ("samples"), split_s is the midpoint between
the last repeated and first single-sampled pass-1 times (ADVICE r8),
and SPARK_GRAFT_BENCH_FIRST/_LAST (comma-separated name prefixes)
reorder the suite for position-effect A/B runs, disclosed as "order".
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from far_finer_airtable_firestore_sync_spark.conf import local_session

    spark = local_session("ffs-bench")

    import __spark_entry__ as e

    # Warm the JVM/codegen paths so the first timed query doesn't pay
    # session startup (bench measures queries, not JIT).
    spark.range(1_000_000).selectExpr("md5(cast(id as string)) h").agg(
        {"h": "max"}
    ).collect()

    qs = e.queries()
    # Suite-order A/B (r8 VERDICT #2: separate session-position
    # effects from entry cost when a driver-run sample conflicts with
    # a committed local run): comma-separated name PREFIXES moved to
    # the front/back of the suite; disclosed via "order" when used.
    first = [p for p in os.environ.get(
        "SPARK_GRAFT_BENCH_FIRST", "").split(",") if p]
    last = [p for p in os.environ.get(
        "SPARK_GRAFT_BENCH_LAST", "").split(",") if p]
    if first or last:
        def _rank(n: str) -> int:
            if any(n.startswith(p) for p in first):
                return 0
            if any(n.startswith(p) for p in last):
                return 2
            return 1

        qs = dict(sorted(qs.items(), key=lambda kv: _rank(kv[0])))
    repeats = int(os.environ.get("SPARK_GRAFT_REPEATS", "3"))
    split_s = float(os.environ.get("SPARK_GRAFT_BENCH_SPLIT", "1.4"))
    # Soft wall-clock budget: an external kill (driver harness timeout)
    # loses the WHOLE line, so passes after the first stop early once
    # the budget is spent — a complete 1-sample bench always beats a
    # truncated 3-sample one. The check runs BEFORE each pass, so worst
    # case is budget + one pass.
    budget_s = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET", "560"))
    bench_t0 = time.perf_counter()
    samples: dict[str, list[float]] = {name: [] for name in qs}

    def time_one(name, fn) -> None:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        # Force full evaluation of every column (not just count paths).
        df.write.format("noop").mode("overwrite").save()
        samples[name].append(time.perf_counter() - t0)
        # Drop intermediates persisted by pipeline operators so queries
        # don't contend for storage memory across measurements.
        spark.catalog.clearCache()

    # Pass 1: everything. Passes 2..repeats: only entries at/above the
    # split (median-of-3 where regressions are diagnosable; the
    # sub-split tail keeps its single sample — r8 protocol, see module
    # docstring). Round-robin whole-suite passes (not back-to-back per
    # query) so a transient host-load spike cannot poison all of one
    # query's runs.
    for name, fn in qs.items():
        time_one(name, fn)
    # ADAPTIVE heavy set (r8 fix for a second estimator regression):
    # as the contract grew past ~230 entries, pass 1 plus two fixed-
    # split heavy passes stopped fitting the budget and the whole
    # bench silently degraded to min-of-2 — the exact cross-round-
    # comparability break VERDICT r7 #3 called out. Instead of a fixed
    # split, take the LARGEST expensive prefix for which ONE extra
    # pass fits the remaining budget (pass-1 times as the estimate,
    # x0.85 headroom); the per-pass elapsed check below then preserves
    # the protocol's documented worst case of budget + one heavy pass.
    # The slowest entries — the ones the perf gate reads — keep
    # median-of-3 at any contract size, and the effective split is
    # disclosed as split_s.
    remaining = max(0.0, budget_s - (time.perf_counter() - bench_t0))
    ranked = sorted(samples.items(), key=lambda kv: -kv[1][0])
    heavy = []
    acc = 0.0
    for n, t in ranked:
        if t[0] < split_s:
            break  # never repeat the sub-split tail
        if acc + t[0] > remaining * 0.85:
            break
        heavy.append(n)
        acc += t[0]
    if heavy:
        # Disclose the effective split as the MIDPOINT between the
        # last included and first excluded pass-1 times (r8 ADVICE:
        # rounding the last-included time could land at/below an
        # excluded entry's identical time, implying it got
        # median-of-3 when it had one sample). heavy_n makes the
        # repeated set's size explicit regardless.
        last_inc = samples[heavy[-1]][0]
        rest = [t[0] for n, t in ranked if n not in heavy]
        first_exc = max(rest) if rest else 0.0
        split_s = round((last_inc + min(last_inc, first_exc)) / 2, 3) \
            if rest else round(last_inc / 2, 3)
    for _rep in range(1, repeats):
        if time.perf_counter() - bench_t0 > budget_s:
            break
        for name in heavy:
            time_one(name, qs[name])

    # Median for multi-sampled entries (3 discards the cold first
    # pass); a budget-degraded 2-sample entry takes MIN (closest to
    # what median-of-3 reports on a quiet host); single-sample tail
    # entries report their one (cold) sample.
    def est(t: list[float]) -> float:
        if len(t) >= 3:
            return statistics.median(t)
        return min(t)

    timings = {n: round(est(t), 2) for n, t in samples.items()}
    total = round(sum(est(t) for t in samples.values()), 2)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    heavy_samples = min((len(samples[n]) for n in heavy), default=1)
    payload = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # repeats/estimator describe the HEAVY entries — the ones
        # cross-round comparisons are made on; the single-sampled tail
        # is disclosed separately (ADVICE r4: BENCH_r* readers must be
        # able to tell the statistics apart).
        "repeats": heavy_samples,
        "estimator": "median" if heavy_samples >= 3 else "min",
        "split_s": split_s,
        "heavy_n": len(heavy),
        "tail_singles": len(qs) - len(heavy),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
    }
    if first or last:
        payload["order"] = f"first={','.join(first)};last={','.join(last)}"
    try:
        import duckdb as _duck

        import pyspark as _ps

        # Engine versions ride the artifact: a driver-side value-hash
        # divergence that no local run reproduces needs to rule
        # version skew in or out (ADVICE r7 on store_zone_map_scan).
        payload["versions"] = f"pyspark={_ps.__version__},duckdb={_duck.__version__}"
    except Exception:  # noqa: BLE001 - version info is best-effort
        pass
    # Streaming entries pay an inherent per-entry micro-batch replay
    # bootstrap (~3 s each: real readStream/writeStream lifecycle per
    # invocation, not a plan cost) — disclosed so the total reads
    # fairly vs batch-only rounds (VERDICT r5 item 6).
    streaming = [n for n in timings if n.startswith(("streaming_",
                                                     "stateful_"))]
    payload["stream_n"] = len(streaming)
    payload["stream_sec"] = round(sum(timings[n] for n in streaming), 2)
    # 8-hex digest of the FULL per-query map: ties the driver-captured
    # stdout line (which trims to the slowest entries) to the complete
    # BENCH_LOCAL.json committed each round (VERDICT r5 item 7).
    import hashlib

    payload["full_md5"] = hashlib.md5(
        json.dumps(timings, sort_keys=True, separators=(",", ":")).encode()
    ).hexdigest()[:8]
    # Full-precision per-sample artifact for local auditing; stdout keeps
    # only the compact line so the driver's ~4KB tail capture parses it
    # (round-2 BENCH artifact had parsed:null from head truncation).
    try:
        with open(
            os.path.join(ROOT, "BENCH_LOCAL.json"),
            "w",
        ) as f:
            json.dump({**payload, "samples": samples}, f, indent=1)
    except OSError:
        pass
    spark.stop()
    # The driver's tail capture is ~2000 chars (BENCH_r03 proved a 3.2KB
    # line loses its head, so "parsed" stays null). Emit a line that is
    # GUARANTEED to fit: totals + as many per-query timings as fit in the
    # budget, slowest first (the ones the perf gate cares about). The full
    # per-query map lives in BENCH_LOCAL.json, committed each round.
    budget = int(os.environ.get("SPARK_GRAFT_LINE_BUDGET", "1900"))
    ranked = sorted(timings.items(), key=lambda kv: -kv[1])
    kept: dict[str, float] = {}
    # RAW per-sample arrays for the slowest (multi-sampled) entries
    # ride the driver artifact (r8 VERDICT #2: a median-only record
    # made the dedup_ngram_jaccard 7.13s-vs-1.50s conflict
    # unattributable post-hoc — with the samples visible, one cold
    # outlier vs three consistently-slow passes are distinguishable).
    kept_samples: dict[str, list[float]] = {}
    base = {k: v for k, v in payload.items() if k != "queries"}
    base["queries_total"] = len(timings)
    for name, t in ranked:
        trial = dict(base)
        trial["queries_omitted"] = len(timings) - len(kept) - 1
        trial["queries"] = {**kept, name: t}
        t_samples = [round(s, 2) for s in samples[name]]
        trial_samples = dict(kept_samples)
        if len(t_samples) > 1:
            trial_samples[name] = t_samples
        trial["samples"] = trial_samples
        if len(json.dumps(trial, separators=(",", ":"))) > budget:
            break
        kept[name] = t
        kept_samples = trial_samples
    base["queries_omitted"] = len(timings) - len(kept)
    base["queries"] = kept
    base["samples"] = kept_samples
    line = json.dumps(base, separators=(",", ":"))
    assert len(line) <= budget, len(line)
    print(line, flush=True)


if __name__ == "__main__":
    main()
