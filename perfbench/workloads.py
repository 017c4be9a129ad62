"""The closed-loop workloads. One client issues one operation at a
time; each timed phase runs whole rotations of the workload's op mix
until ``seconds`` have passed.

Every workload reports the same end-to-end metrics, each read off the
workload's own ops (see README.md for the per-workload definitions),
its wall-clock latencies in the run information, and, when traced, the
per-layer metrics of the layers it exercises (layers it bypasses
report 0)."""

from __future__ import annotations

import os
import sys
import time
import traceback
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable, Optional

import pyarrow.parquet as pq

from perfbench import gen
from perfbench.harness import RunDir, Tracer, fs_bytes, fs_inodes, fs_written, median

#: Input sizes. "full" is what the benchmark measures; "tiny" is the
#: smoke scale of the self-tests.
SCALES = {
    "full": {"feed_records": 10_000, "facts": 100_000},
    "tiny": {"feed_records": 1_600, "facts": 4_000},
}


@dataclass
class Attempt:
    ok: bool
    out: Any = None
    s: float = 0.0
    span: dict = field(default_factory=dict)


class Run:
    """State of one benchmark run: samples per metric role, op counts,
    per-layer samples and the tracer."""

    def __init__(self, spark, run_dir: RunDir, tracer: Tracer, seed: int,
                 seconds: float, scale: str):
        self.spark, self.dir, self.tr = spark, run_dir, tracer
        self.seed, self.seconds = seed, seconds
        self.size = SCALES[scale]
        self.attempted = 0
        self.failed = 0
        # per write op: wall time, CPU time, rows handled, rows changed,
        # Spark jobs and tasks, bytes written under the store roots
        self.write: list[float] = []
        self.write_cpu: list[float] = []
        self.write_rows: list[int] = []
        self.changed: list[int] = []
        self.write_jobs: list[int] = []
        self.write_tasks: list[int] = []
        self.write_bytes: list[int] = []
        # per read op: wall time by kind, CPU time, Spark jobs
        self.point: list[float] = []
        self.scan: list[float] = []
        self.read_cpu: list[float] = []
        self.read_jobs: list[int] = []
        self.space_amp: Optional[float] = None
        #: bytes under the store roots and their heads at the fixed op
        #: count space is measured at
        self.space_bytes = 0
        self.space_heads: list[tuple[str, Callable]] = []
        self.setup: dict[str, float] = {}
        self.layer: dict[str, list] = defaultdict(list)
        self.info: dict[str, Any] = {}
        self.timed = (0.0, 0.0)

    # -- ops -----------------------------------------------------------------

    def call(self, name: str, fn: Callable, **attrs) -> tuple[Any, float, dict]:
        """Time one call into the engine, inside a span when tracing."""
        with self.tr.span(name, **attrs) as rec:
            t = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t
        return out, dt, rec

    def attempt(self, name: str, fn: Callable, **attrs) -> Attempt:
        """One timed op; an exception counts it failed."""
        self.attempted += 1
        try:
            out, dt, rec = self.call(name, fn, **attrs)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            self.failed += 1
            return Attempt(False)
        return Attempt(True, out, dt, rec)

    def expect(self, a: Attempt, ok: bool, what: str) -> None:
        """The op's output check; a mismatch counts the op failed."""
        if a.ok and not ok:
            self.failed += 1
            a.ok = False
            print(f"perfbench: output check failed: {what}", file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        """An output check outside the timed ops (set-up, the head state
        at run end), counted as one op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: state check failed: {what}", file=sys.stderr)

    def timed_loop(self, rotation: Callable[[int], None]) -> None:
        t0 = time.perf_counter()
        k = 0
        while k == 0 or time.perf_counter() - t0 < self.seconds:
            rotation(k)
            k += 1
        self.timed = (t0, time.perf_counter())
        self.info["rotations"] = k

    def record_write(self, s: float, span: dict, bytes_written: int, rows: int,
                     changed: int) -> None:
        self.write.append(s)
        self.write_rows.append(rows)
        self.changed.append(changed)
        self.write_jobs.append(span["jobs"])
        self.write_tasks.append(span["tasks"])
        self.write_bytes.append(bytes_written)
        self.write_cpu.append(span["cpu_s"])

    def record_read(self, a: Attempt, samples: list) -> None:
        samples.append(a.s)
        self.read_jobs.append(a.span["jobs"])
        self.read_cpu.append(a.span["cpu_s"])

    def stage(self, fn: Callable):
        """Input staging between ops: outside every op timing."""
        with self.tr.span("stage"):
            return fn()

    def mark_space(self, roots: list[str], heads: list[tuple[str, Callable]]) -> None:
        self.space_bytes = fs_bytes(*roots)
        self.space_heads = heads

    def measure_space_amp(self) -> None:
        """Space at the marked op over the marked heads rewritten
        compactly (one parquet file each), outside the timed phase."""
        compact = 0
        for name, read in self.space_heads:
            out = self.dir.sub("compact", name)
            read().coalesce(1).write.parquet(out)
            compact += fs_bytes(out)
        self.space_amp = self.space_bytes / compact

    # -- results --------------------------------------------------------------

    def end_to_end(self) -> dict:
        """Set-up time and the per-op costs: means over whole rotations,
        so every run weighs each op kind of the workload's mix the same.
        Op times are CPU seconds; wall-clock latencies are in
        :meth:`wall` (README.md says why they carry no bound)."""
        return {
            "setup_s": sum(self.setup.values()),
            "write_cpu_s": sum(self.write_cpu) / len(self.write_cpu),
            "read_cpu_s": sum(self.read_cpu) / len(self.read_cpu),
            "write_jobs": sum(self.write_jobs) / len(self.write_jobs),
            "write_tasks": sum(self.write_tasks) / len(self.write_tasks),
            "read_jobs": sum(self.read_jobs) / len(self.read_jobs),
            "write_amp": sum(self.write_bytes) / sum(self.changed),
            "space_amp": self.space_amp,
        }

    def wall(self) -> dict:
        return {
            "write_s": sum(self.write) / len(self.write),
            "rows_per_s": sum(self.write_rows) / sum(self.write),
            "point_read_p50_s": median(self.point),
            "scan_p50_s": median(self.scan),
        }

    def per_layer(self, names: list[str]) -> dict:
        out = {n: 0.0 for n in names}
        for n, v in self.setup.items():
            out[f"setup.{n}"] = v
        for n, xs in self.layer.items():
            if xs:
                out[n] = median(xs)
        t0, t1 = self.timed
        out["trace.coverage"] = self.tr.coverage(t0, t1)
        out["trace.overhead_frac"] = self.tr.overhead_s / (t1 - t0)
        out.update({f"wall.{n}": v for n, v in self.wall().items()})
        unknown = set(out) - set(names)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        return out


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _log_records(root: str) -> int:
    """Commit records in a CAS-log backend's ``_log`` directory."""
    return sum(
        1 for f in os.listdir(os.path.join(root, "_log"))
        if f.endswith(".json") and not f.startswith("_")
    )


# -- feed_sync -------------------------------------------------------------------


def feed_sync(run: Run) -> None:
    """Full-table snapshots through the record_feed connector into the
    CAS-log backend with UPSERT_CHECKSUM_WITH_DELETE; after each sync a
    downstream reader scans the table (the committed key set is checked
    there) and reads rewritten records back."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.config import SyncSpec, UpdateType
    from far_finer_airtable_firestore_sync_spark.functions.canonical import (
        Field,
        checksum_col,
    )
    from far_finer_airtable_firestore_sync_spark.functions.casts import typed_projection
    from far_finer_airtable_firestore_sync_spark.operators.dedup import (
        filter_valid_pk,
        keep_latest,
    )
    from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
    from far_finer_airtable_firestore_sync_spark.sources import record_source
    from far_finer_airtable_firestore_sync_spark.sources.backends import (
        TransactionalParquetBackend,
    )

    spark = run.spark
    fields = tuple(Field(f, gen.FEED_KINDS[f]) for f in gen.FEED_FIELDS)
    spec = SyncSpec("Name", UpdateType.UPSERT_CHECKSUM_WITH_DELETE, fields)
    inputs = run.dir.sub("feed_inputs")
    root = run.dir.sub("feed_store")
    os.makedirs(inputs)

    def source(snap):
        return (
            spark.read.format("record_feed")
            .option("path", snap.pages_dir)
            .option("fields", ",".join(gen.FEED_FIELDS))
            .load()
            .drop("_record_id", "_created_time")
        )

    t = time.perf_counter()
    feed = gen.FeedGen(run.seed, run.size["feed_records"])
    snap = feed.next_snapshot(inputs)
    run.setup["generate_s"] = time.perf_counter() - t
    t = time.perf_counter()
    record_source.register(spark)
    backend = TransactionalParquetBackend(spark, root, "doc_id")
    pipe = SyncPipeline(spec, backend, catalog=gen.FEED_CATALOG)
    loaded = pipe.run(source(snap))
    run.setup["load_s"] = time.perf_counter() - t
    run.check(loaded.metrics["sync_out"]["rows"] == snap.n_keys, "initial load rows")
    # checking the load also warms the read paths the ops time
    run.check(gen.spark_table_hash(backend.read(), ["Name", "Note"]) == snap.expected_hash,
              "initial load key set")
    key, note = snap.probes[0]
    run.check(backend.read().filter(F.col("Name") == key).select("Note").collect()[0]["Note"]
              == note, "initial load point read")

    def probe_layers(snap, sync: Attempt) -> None:
        """Per-layer split of one sync, traced runs only: each layer's
        self time is the time its prefix of the pipeline takes into a
        noop sink minus the prefix before it, on the parquet-staged copy
        of the snapshot (so the connector's cost stays out)."""
        live = source(snap)
        staged = spark.read.parquet(snap.staged_dir)
        _o, fetch, _r = run.call("record_source.fetch", lambda: _noop(live))
        _o, scan_staged, _r = run.call("staged.scan", lambda: _noop(staged))
        typed = typed_projection(staged, gen.FEED_CATALOG)
        _o, cast, _r = run.call("casts.typed_projection", lambda: _noop(typed))
        o_in, o_out = Observation("rows_in"), Observation("rows_out")
        deduped = keep_latest(
            filter_valid_pk(typed.observe(o_in, F.count(F.lit(1)).alias("n")), "Name"),
            "Name", order_col="Created",
        ).observe(o_out, F.count(F.lit(1)).alias("n"))
        _o, dedup, _r = run.call("dedup.keep_latest", lambda: _noop(deduped))
        target = backend.read()
        _o, tgt_scan, _r = run.call("target.scan", lambda: _noop(target))
        _o, cs_src, _r = run.call(
            "canonical.checksum.source",
            lambda: _noop(deduped.select(checksum_col(fields))),
        )
        _o, cs_tgt, _r = run.call(
            "canonical.checksum.target",
            lambda: _noop(target.select(checksum_col(fields))),
        )
        post, plan, _r = run.call("pipeline.plan", lambda: pipe.build_post_state(live))
        _o, derive, d_rec = run.call("pipeline.derive", lambda: _noop(post))
        _o, derive_staged, _r = run.call(
            "pipeline.derive.staged", lambda: _noop(pipe.build_post_state(staged))
        )
        L = run.layer
        L["record_source.fetch_s"].append(fetch)
        L["record_source.in_sync_s"].append(derive - derive_staged)
        L["casts.typed_projection_s"].append(cast - scan_staged)
        L["dedup.keep_latest_s"].append(dedup - cast)
        L["dedup.rows_in"].append(o_in.get["n"])
        L["dedup.rows_out"].append(o_out.get["n"])
        L["canonical.checksum_s"].append((cs_src - dedup) + (cs_tgt - tgt_scan))
        # the derive's rest after the checksummed source and target
        L["strategies.post_state_s"].append(derive_staged - cs_src - cs_tgt)
        L["strategies.rows_out"].append(sync.out.metrics["sync_out"]["rows"])
        L["pipeline.plan_s"].append(plan)
        L["pipeline.derive_s"].append(derive)
        L["pipeline.jobs"].append(d_rec["jobs"])
        L["pipeline.tasks"].append(d_rec["tasks"])
        L["backends.commit_s"].append(sync.s - derive)
        L["backends.jobs"].append(sync.span["jobs"] - d_rec["jobs"])

    def rotation(k: int) -> None:
        snap = run.stage(lambda: feed.next_snapshot(inputs))
        src = source(snap)
        before = fs_inodes(root)
        logs_before = _log_records(root) if run.tr.enabled else 0
        sync = run.attempt("pipeline.run", lambda: pipe.run(src))
        run.expect(sync, sync.ok and sync.out.metrics["sync_out"]["rows"] == snap.n_keys,
                   f"sync {snap.number} row count")
        w = fs_written(before, fs_inodes(root))
        if sync.ok:
            run.record_write(sync.s, sync.span, w["bytes"], snap.n_records, snap.changed_rows)
        if sync.ok and run.tr.enabled:
            run.layer["backends.bytes_written"].append(w["bytes"])
            run.layer["backends.files_written"].append(w["files"])
            run.layer["backends.bytes_per_changed_row"].append(w["bytes"] / snap.changed_rows)
            run.layer["backends.log_records_per_sync"].append(
                _log_records(root) - logs_before)
        scan = run.attempt("backends.read.scan",
                           lambda: gen.spark_table_hash(backend.read(), ["Name", "Note"]))
        run.expect(scan, scan.out == snap.expected_hash,
                   f"committed key set after sync {snap.number}")
        if scan.ok:
            run.record_read(scan, run.scan)
        for key, note in snap.probes:
            point = run.attempt(
                "backends.read.point",
                lambda: backend.read().filter(F.col("Name") == key).select("Note").collect(),
            )
            run.expect(point, point.ok and [r["Note"] for r in point.out] == [note],
                       f"point read of {key}")
            if point.ok:
                run.record_read(point, run.point)
        if k == 0:  # space is measured at a fixed op count
            head = backend.latest()[0]
            run.mark_space([root], [("feed", lambda: backend.read_version(head))])
        if sync.ok and run.tr.enabled and k == 0:  # the split costs ~2 syncs
            probe_layers(snap, sync)

    run.timed_loop(rotation)
    run.measure_space_amp()
    run.check(gen.spark_table_hash(backend.read(), ["Name", "Note"]) == feed.table_hash(),
              "head state")


# -- store_cdf -------------------------------------------------------------------


def _changelog_rows(store, since: Optional[str]) -> int:
    """Rows in the ``_changes`` sidecars of versions committed after
    ``since``, from parquet footers (no Spark job)."""
    total = 0
    for vd in store.list_versions():
        if since is not None and os.path.basename(vd) <= os.path.basename(since):
            continue
        for d, _dirs, files in os.walk(os.path.join(vd, "_changes")):
            for f in files:
                if f.endswith(".parquet"):
                    total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


def _view_rows_written(stats: list) -> int:
    return sum(
        sum(s["view"].get(x, 0) for x in ("updated", "deleted", "inserted", "deleted_by_source"))
        for s in stats
    )


def store_cdf(run: Run) -> None:
    """Point DML, point and range reads, time travel and compaction on a
    DocumentStore whose change feed, with a dimension store's, keeps a
    join view and its rollup fresh through a long-lived cdf_join_sync.
    Each op is one upstream commit -- a fact merge, then a dimension
    group move (an update_where on the dimension store) -- followed by processAllAvailable() and the reads; each
    rotation ends with a compaction of the fact store."""
    from far_finer_airtable_firestore_sync_spark.sources import cdf_source
    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore
    from far_finer_airtable_firestore_sync_spark.streaming.sync import cdf_join_sync

    spark = run.spark
    inputs = run.dir.sub("store_inputs")
    os.makedirs(inputs)
    roots = {r: run.dir.sub(f"store_{r}") for r in ("fact", "dim", "view", "summ", "ck")}
    t = time.perf_counter()
    model = gen.StoreModel(run.seed, run.size["facts"])
    fact_dir, dim_path = model.write_base(inputs)
    run.setup["generate_s"] = time.perf_counter() - t
    t = time.perf_counter()
    fact = DocumentStore(spark, roots["fact"], "k")
    dim = DocumentStore(spark, roots["dim"], "d")
    view = DocumentStore(spark, roots["view"], "k")
    summ = DocumentStore(spark, roots["summ"], "gname")
    dim.commit(spark.read.parquet(dim_path), cdf=True)
    fact.commit(spark.read.parquet(fact_dir), cdf=True)
    run.setup["load_s"] = time.perf_counter() - t
    stats: list = []
    t = time.perf_counter()
    cdf_source.register(spark)
    tagged, feed_cols = cdf_source.load_feeds(
        spark, [roots["fact"], roots["dim"]], ["fact", "dim0"])
    query = cdf_join_sync(
        None, None, fact, dim, view, summ, roots["ck"],
        fact_key="k", dim_fk="nk", dim_key="d", view_cols=list(gen.VIEW_COLS),
        group_col="gname", count_col="n", sum_map={"s": "cents"},
        query_name="perfbench_store_cdf", stats=stats,
        tagged_stream=tagged, feed_cols=feed_cols,
    )
    try:
        query.processAllAvailable()
        run.setup["bootstrap_s"] = time.perf_counter() - t
        # checking the bootstrap also warms the read paths the ops time
        run.check(gen.spark_table_hash(view.read(), list(gen.VIEW_COLS)) == model.view_hash(),
                  "bootstrapped view")
        k = model.n // 2
        run.check(fact.get_document(k) == model.fact_row(k)
                  and view.get_document(k) == model.view_row(k), f"bootstrap rows of {k}")
        width = gen.RANGE_WIDTH
        run.check(len(fact.read_where("k", k, k + width - 1).collect()) == width
                  and {r["gname"]: (r["n"], r["s"]) for r in summ.read().collect()}
                  == model.summary(), "bootstrap range read and rollup")
        ops = _StoreOps(run, model, fact, dim, view, summ, query, stats, inputs)
        run.timed_loop(ops.rotation)
    finally:
        query.stop()
    if run.tr.enabled:  # shares of the whole run, not medians of per-op shares
        L = run.layer
        L["ivm.writes_per_change"] = [
            sum(L["ivm.view_rows_written"]) / sum(L["cdf_source.changelog_rows"])]
        hits = L["store.zone_manifest.hit_frac"]
        L["store.zone_manifest.hit_frac"] = [sum(hits) / len(hits)]
    run.measure_space_amp()
    run.check(gen.spark_table_hash(fact.read(), list(gen.FACT_COLS)) == model.fact_hash(),
                    "fact head state")
    run.check(gen.spark_table_hash(view.read(), list(gen.VIEW_COLS)) == model.view_hash(),
                    "view head state")
    run.check({r["gname"]: (r["n"], r["s"]) for r in summ.read().collect()} == model.summary(),
              "rollup head state")


class _StoreOps:
    """The op rotation of :func:`store_cdf`. Each op is one upstream
    commit, so each feeds the stream exactly one epoch and the op's job
    count does not depend on when the stream polls."""

    KINDS = ("merge", "dim")

    def __init__(self, run, model, fact, dim, view, summ, query, stats, inputs):
        self.run, self.model, self.stats, self.inputs = run, model, stats, inputs
        self.fact, self.dim, self.view, self.summ, self.query = fact, dim, view, summ, query
        self.roots = [s.root for s in (fact, dim, view, summ)]
        self.run_id = str(query.runId)
        self.n_ops = 0

    def rotation(self, r: int) -> None:
        for _ in self.KINDS:
            self.op(self.n_ops)
            self.n_ops += 1
        self.compact()
        if r == 0:  # space is measured at a fixed op count
            stores = {"fact": self.fact, "view": self.view}
            self.run.mark_space(
                [s.root for s in stores.values()],
                [(name, lambda s=s, vd=s.current_version_dir(): s.read_version(vd))
                 for name, s in stores.items()],
            )

    def commit(self, name: str, fn: Callable) -> Attempt:
        """One upstream commit; its jobs are the ones the stream's job
        group did not run."""
        return self.run.attempt(name, fn, exclude_group=self.run_id)

    def op(self, k: int) -> None:
        run, model, fact, dim = self.run, self.model, self.fact, self.dim
        kind = self.KINDS[k % len(self.KINDS)]
        heads = {"fact": fact.current_version_dir(), "dim": dim.current_version_dir()}
        start_vd, start_rows = heads["fact"], len(model.facts)
        n_stats = len(self.stats)
        if kind == "merge":
            path = os.path.join(self.inputs, f"merge-{k:04d}.parquet")
            keys, probes = run.stage(lambda: model.merge_source(path))
            src = run.spark.read.parquet(path)
        before = fs_inodes(*self.roots)
        t0 = time.perf_counter()
        with run.tr.span("op") as op_span:
            if kind == "merge":
                c = self.commit("store.merge_into", lambda: fact.merge_into(
                    src, when_matched_update={"nk": "s.nk", "cents": "s.cents"}, cdf=True))
                half = gen.MERGE_ROWS // 2
                run.expect(c, c.ok and c.out[1] == {"updated": half, "deleted": 0,
                                                    "inserted": half, "deleted_by_source": 0},
                           f"merge {k} clause counts")
                if c.ok:
                    model.apply_merge()
                affected, changed = keys, len(keys)
            else:
                d, g = k % gen.N_DIMS, f"m{k}"
                c = self.commit("store.update_where", lambda: dim.update_where(
                    f"d = {d}", {"gname": f"'{g}'"}, cdf=True))
                affected = model.apply_dim_move(d, g) if c.ok else []
                run.expect(c, c.ok and c.out[1] == 1, f"dimension move {k}")
                changed, probes = 1, affected[:gen.STORE_POINT_READS]
            e = run.attempt("streaming.epoch", self.query.processAllAvailable)
        fresh = time.perf_counter() - t0
        # only the commit writes under the store it commits to (the
        # epoch writes the view and rollup), so its bytes are counted
        # after the op, outside the op's timing
        commit_w = fs_written(before, fs_inodes(dim.root if kind == "dim" else fact.root))
        w = fs_written(before, fs_inodes(*self.roots))
        written = _view_rows_written(self.stats[n_stats:])
        run.expect(e, e.ok and written == len(set(affected)), f"view rows written by op {k}")
        if e.ok and c.ok:
            run.record_write(fresh, op_span, w["bytes"], changed, changed)
            if run.tr.enabled:
                self.trace_op(op_span, c, e, heads, written, n_stats, changed, commit_w)
        self.reads(k, probes if e.ok else [], start_vd, start_rows)

    def trace_op(self, op_span, c, e, heads, written, n_stats, changed, commit_w) -> None:
        L = self.run.layer
        ch = (_changelog_rows(self.fact, heads["fact"])
              + _changelog_rows(self.dim, heads["dim"]))
        # every job of the op that the commit call did not run is the
        # epoch's: the stream's thread pools run jobs outside its group
        L["streaming.epoch_s"].append(e.s)
        L["streaming.epoch_jobs"].append(op_span["jobs"] - c.span["jobs"])
        L["streaming.epoch_tasks"].append(op_span["tasks"] - c.span["tasks"])
        L["cdf_source.changelog_rows"].append(ch)
        L["ivm.view_rows_written"].append(written)
        L["ivm.summary_rows_written"].append(sum(
            sum(s["summary"].get(x, 0) for x in ("updated", "deleted", "inserted"))
            for s in self.stats[n_stats:]
        ))
        name = c.span["name"]
        L[f"{name}.s"].append(c.s)
        L[f"{name}.jobs"].append(c.span["jobs"])
        if name == "store.update_where":  # the dimension store, not the facts
            return
        L["store.bytes_per_changed_row"].append(commit_w["bytes"] / changed)
        if name == "store.merge_into":
            L["store.merge_into.tasks"].append(c.span["tasks"])
            L["store.merge_into.bytes_written"].append(commit_w["bytes"])
            L["store.merge_into.files_written"].append(commit_w["files"])

    def reads(self, k: int, probes: list, start_vd: str, start_rows: int) -> None:
        from far_finer_airtable_firestore_sync_spark.sources.store import (
            prune_files_by_zone,
            version_commit_ms,
        )

        run, model, fact, L = self.run, self.model, self.fact, self.run.layer
        lo, hi = model.pick_range()
        for key in probes:
            for name, store, want in (("store.get_document", fact, model.fact_row(key)),
                                      ("view.get_document", self.view, model.view_row(key))):
                g = run.attempt(name, lambda: store.get_document(key))
                run.expect(g, g.out == want, f"{name}({key})")
                if g.ok:
                    run.record_read(g, run.point)
                    if run.tr.enabled and name == "store.get_document":
                        L["store.get_document.s"].append(g.s)
                        L["store.get_document.jobs"].append(g.span["jobs"])
        vd = fact.current_version_dir()
        had_manifest = os.path.exists(os.path.join(vd, "_zone_manifest.json"))
        cols = list(gen.FACT_COLS)
        rw = run.attempt("store.read_where", lambda: fact.read_where("k", lo, hi).collect())
        run.expect(rw, rw.ok and (len(rw.out), sum(gen.row_hash(*(x[c] for c in cols))
                                                   for x in rw.out))
                   == model.range_expect(lo, hi), f"read_where [{lo}, {hi}]")
        if rw.ok:
            run.record_read(rw, run.scan)
            if run.tr.enabled:
                keep, total = prune_files_by_zone(vd, "k", lo, hi)
                L["store.read_where.s"].append(rw.s)
                L["store.read_where.jobs"].append(rw.span["jobs"])
                L["store.read_where.files_kept_frac"].append(len(keep) / total)
                L["store.read_where.rows_returned"].append(len(rw.out))
                L["store.zone_manifest.hit_frac"].append(1.0 if had_manifest else 0.0)
        a = run.attempt("store.read_as_of",
                        lambda: fact.read_as_of(version_commit_ms(start_vd)).count())
        run.expect(a, a.out == start_rows, f"read_as_of before op {k}")
        if a.ok:
            run.record_read(a, run.scan)
            if run.tr.enabled:
                L["store.read_as_of.s"].append(a.s)

    def compact(self) -> None:
        """Compaction keeps the live feed hole-free (an empty change
        sidecar), so the stream consumes it as an empty epoch."""
        run, model, root = self.run, self.model, self.fact.root
        before = fs_inodes(root) if run.tr.enabled else None
        n_stats = len(self.stats)
        c = run.attempt("store.compact", lambda: self.fact.compact(
            target_rows_per_file=max(1, model.n // 4), cdf=True))
        if c.ok and run.tr.enabled:
            run.layer["store.compact.s"].append(c.s)
            run.layer["store.compact.bytes_rewritten"].append(
                fs_written(before, fs_inodes(root))["bytes"])
        e = run.attempt("streaming.epoch.compaction", self.query.processAllAvailable)
        run.expect(e, _view_rows_written(self.stats[n_stats:]) == 0,
                   "compaction changed the view")


WORKLOADS = {"feed_sync": feed_sync, "store_cdf": store_cdf}
