"""Round-5 additions: deterministic HLL sketch, rendezvous sharding,
positional phrase search, distributed BPE merges — each pinned against
an independent Python brute force on synthetic fixtures (the DuckDB
value oracle covers the fixture tables; these pin the algorithms)."""

import hashlib
import math
import random

import pyarrow as pa
import pyarrow.parquet as pq

from far_finer_airtable_firestore_sync_spark.functions.canonical import SPARK
from far_finer_airtable_firestore_sync_spark.plans.ext_queries import (
    HLL_ALPHA_PPM,
    HLL_M,
    HLL_REM_BITS,
    _bpe_body,
    _hll_body,
    _hrw_assign_body,
    _phrase_body,
)


def _write_docs(tmp_path, name, rows):
    path = str(tmp_path / f"{name}.parquet")
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "source": pa.array([r[2] for r in rows], pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) if r[1] is not None else None for r in rows],
                    pa.int64(),
                ),
            }
        ),
        path,
    )
    return path


def _h56(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16)


# ---------------------------------------------------------------------------
# HLL: brute-force replay + error band on the raw-branch regime
# ---------------------------------------------------------------------------


def _hll_python(texts):
    """Bit-identical replay of _hll_body's register math."""
    regs = {}
    for t in set(texts):
        hv = _h56(t)
        bucket, rem = hv >> HLL_REM_BITS, hv % (1 << HLL_REM_BITS)
        rho = (
            HLL_REM_BITS + 1
            if rem == 0
            else bin(rem)[2:].zfill(HLL_REM_BITS).index("1") + 1
        )
        regs[bucket] = max(regs.get(bucket, 0), rho)
    scale = 1 << (HLL_REM_BITS + 1)
    total = sum(scale >> r for r in regs.values()) + (HLL_M - len(regs)) * scale
    num = HLL_ALPHA_PPM * HLL_M * HLL_M * scale
    raw = num // (total * 1_000_000)
    v = HLL_M - len(regs)
    if raw * 2 <= 5 * HLL_M and v > 0:
        return int(round(HLL_M * math.log(HLL_M / v))), "linear"
    return raw, "raw"


def test_hll_matches_python_replay_and_error_band(spark, tmp_path):
    rng = random.Random(7)
    rows = []
    # source 'big': ~1200 distinct (raw branch, m=64 -> est > 160)
    for i in range(1200):
        rows.append((i, f"uniq text {i} {rng.random()}", "big"))
    # source 'small': 12 distinct repeated (linear-counting branch)
    for i in range(60):
        rows.append((1200 + i, f"dup {i % 12}", "small"))
    path = _write_docs(tmp_path, "hll", rows)
    spark.read.parquet(path).createOrReplaceTempView("hll_docs")
    got = {
        r["source"]: (r["n_exact"], r["hll_estimate"], r["est_path"])
        for r in spark.sql(_hll_body(SPARK, "hll_docs")).collect()
    }
    for src in ("big", "small"):
        texts = [r[1] for r in rows if r[2] == src]
        est, path_kind = _hll_python(texts)
        n_exact = len(set(texts))
        assert got[src] == (n_exact, est, path_kind)
    # raw-branch regime: within 3 sigma of HLL's 1.04/sqrt(m) std error
    n, est = got["big"][0], got["big"][1]
    assert got["big"][2] == "raw"
    assert abs(est - n) <= 3 * 1.04 / math.sqrt(HLL_M) * n
    assert got["small"][2] == "linear"
    assert abs(got["small"][1] - 12) <= 4  # linear counting is tight here


def test_hll_registers_are_mergeable(spark, tmp_path):
    """HLL's scale contract: sketch(A ∪ B) == merge(sketch(A), sketch(B))
    by register max — estimates from the union of two halves must equal
    the estimate over all rows (duplicates across halves collapse)."""
    rows = [(i, f"t {i % 300}", "s") for i in range(700)]
    whole = _write_docs(tmp_path, "whole", rows)
    spark.read.parquet(whole).createOrReplaceTempView("hllm_whole")
    # the union-of-halves relation: same rows, split then unioned
    spark.sql(
        "select * from hllm_whole where doc_id < 350 "
        "union all select * from hllm_whole where doc_id >= 350"
    ).createOrReplaceTempView("hllm_union")
    a = spark.sql(_hll_body(SPARK, "hllm_whole")).collect()
    b = spark.sql(_hll_body(SPARK, "hllm_union")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# HRW: minimal movement on resize
# ---------------------------------------------------------------------------


def test_hrw_resize_moves_only_to_new_shard(spark, tmp_path):
    rows = [(i, f"doc {i}", "s") for i in range(500)]
    path = _write_docs(tmp_path, "hrw", rows)
    spark.read.parquet(path).createOrReplaceTempView("hrw_docs")
    a8 = {
        r["doc_id"]: r["s"]
        for r in spark.sql(_hrw_assign_body(SPARK, "hrw_docs", 8)).collect()
    }
    a9 = {
        r["doc_id"]: r["s"]
        for r in spark.sql(_hrw_assign_body(SPARK, "hrw_docs", 9)).collect()
    }
    moved = {d for d in a8 if a8[d] != a9[d]}
    # every move lands on the NEW shard — never between existing shards
    assert all(a9[d] == 8 for d in moved)
    # expected move fraction 1/9; generous band for n=500
    assert 0.03 <= len(moved) / 500 <= 0.25
    # and the assignment matches an independent Python argmax replay
    for d in list(a8)[:50]:
        best = max(range(8), key=lambda s: (_h56(f"{d}:{s}"), -s))
        assert a8[d] == best


# ---------------------------------------------------------------------------
# phrase search: adjacency, not bag-of-words
# ---------------------------------------------------------------------------


def test_phrase_search_requires_adjacency(spark, tmp_path):
    rows = [
        (1, "hash join is fast", "s"),        # 1 hit
        (2, "join hash", "s"),                # reversed: no hit
        (3, "hash x join", "s"),              # gap: no hit
        (4, "hash join and hash join", "s"),  # 2 hits
        (5, None, "s"),                       # null text
        (6, "hash", "s"),                     # lone term
    ]
    path = _write_docs(tmp_path, "ph", rows)
    spark.read.parquet(path).createOrReplaceTempView("ph_docs")
    got = {
        r["doc_id"]: (r["n_hits"], r["first_pos"])
        for r in spark.sql(_phrase_body(SPARK, "ph_docs")).collect()
    }
    assert got == {1: (1, 1), 4: (2, 1)}


def test_phrase_search_triple_term_chain(spark, tmp_path):
    rows = [
        (1, "a b c d", "s"),
        (2, "a b x c", "s"),
        (3, "b c a b c", "s"),
    ]
    path = _write_docs(tmp_path, "ph3", rows)
    spark.read.parquet(path).createOrReplaceTempView("ph3_docs")
    got = {
        r["doc_id"]: (r["n_hits"], r["first_pos"])
        for r in spark.sql(
            _phrase_body(SPARK, "ph3_docs", terms=["a", "b", "c"])
        ).collect()
    }
    assert got == {1: (1, 1), 3: (1, 3)}


# ---------------------------------------------------------------------------
# BPE: canonical get_stats/merge reference implementation
# ---------------------------------------------------------------------------


def _bpe_python(texts, n_merges=2):
    """Canonical BPE trainer (Sennrich 2016 learn_bpe shape): count
    adjacent symbol positions weighted by word frequency, merge the
    winner greedily left-to-right, repeat."""
    from collections import Counter

    vocab = Counter()
    for t in texts:
        for w in (t or "").lower().split(" "):
            if w:
                vocab[w] += 1
    words = {w: list(w) for w in vocab}
    merges = []
    for _ in range(n_merges):
        stats = Counter()
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                stats[(syms[i], syms[i + 1])] += vocab[w]
        if not stats:
            break
        # tie-break: max count, then lexicographically smallest (a, b)
        best = sorted(stats.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        (a, b), n = best
        merges.append((a, b, n))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges


def test_bpe_matches_reference_trainer(spark, tmp_path):
    texts = [
        "hello hello help",
        "hell hello yellow",
        "low lower lowest low low",
        "aaaa aaa aa",  # run-parity: 'aaaa' -> 'aa','aa'; 'aaa' -> 'aa','a'
    ]
    rows = [(i, t, "s") for i, t in enumerate(texts)]
    path = _write_docs(tmp_path, "bpe", rows)
    spark.read.parquet(path).createOrReplaceTempView("bpe_docs")
    got = [
        (r["sym_left"], r["sym_right"], r["n_pair"])
        for r in spark.sql(_bpe_body(SPARK, "bpe_docs"))
        .orderBy("merge_rank")
        .collect()
    ]
    exp = _bpe_python(texts, n_merges=2)
    assert got == exp


def test_bpe_run_parity_on_repeats(spark, tmp_path):
    """'aaaa' must merge to ('aa','aa'), not ('aa','a','a'): after
    merge-1 (a,a), merge-2's top pair over 'aaaa' is (aa, aa)."""
    rows = [(1, "aaaa", "s")]
    path = _write_docs(tmp_path, "bpe2", rows)
    spark.read.parquet(path).createOrReplaceTempView("bpe2_docs")
    got = [
        (r["merge_rank"], r["sym_left"], r["sym_right"], r["n_pair"])
        for r in spark.sql(_bpe_body(SPARK, "bpe2_docs"))
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == [(1, "a", "a", 3), (2, "aa", "aa", 1)]


# ---------------------------------------------------------------------------
# incremental view maintenance
# ---------------------------------------------------------------------------


def test_diff_versions_include_old_shapes(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "st"), "pk")
    old = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "pk long, g string, v long"
    )
    new = spark.createDataFrame(
        [(2, "b", 25), (3, "z", 30), (4, "d", 40)], "pk long, g string, v long"
    )
    v1, v2 = store.commit(old), store.commit(new)
    rows = {
        r["pk"]: r.asDict()
        for r in store.diff_versions(v1, v2, include_old=True).collect()
    }
    assert rows[1]["change_type"] == "delete"
    assert rows[1]["g"] is None and rows[1]["old_g"] == "a"
    assert rows[1]["old_v"] == 10
    assert rows[2]["change_type"] == "update"
    assert (rows[2]["v"], rows[2]["old_v"]) == (25, 20)
    assert rows[3]["change_type"] == "update"  # group moved c -> z
    assert (rows[3]["g"], rows[3]["old_g"]) == ("z", "c")
    assert rows[4]["change_type"] == "insert"
    assert rows[4]["old_g"] is None and rows[4]["v"] == 40


def test_incremental_rollup_matches_direct_recompute(spark, tmp_path):
    """All IVM legs at once: in-group update, group-moving update,
    delete that ERASES a group, insert that CREATES a group."""
    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        incremental_rollup,
    )
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    old_rows = [(1, "a", 10), (2, "a", 5), (3, "b", 7), (4, "c", 100)]
    new_rows = [
        (1, "a", 12),    # in-group value update
        (2, "b", 5),     # group move a -> b
        # 3 deleted; 4 deleted -> group c vanishes entirely
        (5, "d", 50),    # insert -> new group d
    ]
    store = DocumentStore(spark, str(tmp_path / "st2"), "pk")
    old = spark.createDataFrame(old_rows, "pk long, g string, v long")
    new = spark.createDataFrame(new_rows, "pk long, g string, v long")
    v1, v2 = store.commit(old), store.commit(new)
    base = (
        store.read_version(v1)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("tv"),
        )
    )
    cdc = store.diff_versions(v1, v2, include_old=True)
    got = sorted(
        tuple(r)
        for r in incremental_rollup(base, cdc, "g", "n", {"tv": "v"})
        .select("g", "n", F.col("tv").cast("long"))
        .collect()
    )
    direct = sorted(
        tuple(r)
        for r in store.read_version(v2)
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("v").cast("long").alias("tv"),
        )
        .collect()
    )
    assert got == direct == [("a", 1, 12), ("b", 1, 5), ("d", 1, 50)]


def test_rollup_delta_touches_only_changed_groups(spark):
    """The delta frame must contain ONLY groups reachable from the
    changelog — the no-base-rescan property that makes IVM cheap."""
    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        rollup_delta,
    )

    cdc = spark.createDataFrame(
        [
            ("insert", "g1", 5, None, None),
            ("update", "g1", 7, "g2", 3),   # move g2 -> g1
            ("delete", None, None, "g3", 9),
        ],
        "change_type string, g string, v long, old_g string, old_v long",
    )
    rows = {r["g"]: r for r in rollup_delta(cdc, "g", ["v"]).collect()}
    assert set(rows) == {"g1", "g2", "g3"}
    assert (rows["g1"]["d_count"], rows["g1"]["d_v"]) == (2, 12)
    assert (rows["g2"]["d_count"], rows["g2"]["d_v"]) == (-1, -3)
    assert (rows["g3"]["d_count"], rows["g3"]["d_v"]) == (-1, -9)


# ---------------------------------------------------------------------------
# Merkle-style bucket drift
# ---------------------------------------------------------------------------


def test_bucket_drift_detects_only_touched_buckets(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "bd"), "pk")
    rows = [(i, f"name-{i}", i * 100) for i in range(400)]
    old = spark.createDataFrame(rows, "pk long, name string, cents long")
    v1 = store.commit(old)
    v_same = store.commit(old)
    row_expr = "cast(pk as string) || '|' || name || '|' || cast(cents as string)"
    key_expr = "cast(pk as string)"
    # identical snapshots: zero diverging buckets
    assert store.bucket_drift(v1, v_same, row_expr, key_expr).count() == 0

    # mutate exactly 2 keys + delete 1: at most 3 buckets diverge, and
    # every changed key's bucket IS reported
    changed = {(7, "name-7", 999), (123, "name-123*", 12300)}
    new_rows = [r for r in rows if r[0] not in (7, 123, 250)] + sorted(changed)
    v2 = store.commit(
        spark.createDataFrame(new_rows, "pk long, name string, cents long")
    )
    drift = store.bucket_drift(v1, v2, row_expr, key_expr).collect()
    got_buckets = {r["bucket"] for r in drift}
    assert 1 <= len(got_buckets) <= 3

    import hashlib

    def bucket(pk):
        return int(hashlib.md5(str(pk).encode()).hexdigest()[:14], 16) % 64

    assert got_buckets == {bucket(7), bucket(123), bucket(250)}
    # counts expose the delete leg: bucket(250) has n_old = n_new + 1
    by_bucket = {r["bucket"]: r for r in drift}
    b250 = by_bucket[bucket(250)]
    if bucket(250) not in (bucket(7), bucket(123)):
        assert b250["n_old"] == b250["n_new"] + 1


def test_incremental_rollup_null_group_key(spark):
    """NULL is a legal group (Spark GROUP BY keeps it): base and delta
    NULL-group rows must merge via null-safe equality — plain equality
    would keep the stale base row AND drop the correction."""
    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        incremental_rollup,
    )

    base = spark.createDataFrame(
        [(None, 5, 100), ("a", 2, 20)], "g string, n long, tv long"
    )
    cdc = spark.createDataFrame(
        [
            ("delete", None, None, None, 30),   # retract 1 NULL-group row
            ("delete", None, None, None, 40),   # and another
            ("insert", None, 7, None, None),    # plus one new NULL-group row
        ],
        "change_type string, g string, v long, old_g string, old_v long",
    )
    got = sorted(
        ((r["g"], r["n"], r["tv"]) for r in
         incremental_rollup(base, cdc, "g", "n", {"tv": "v"}).collect()),
        key=repr,
    )
    assert got == sorted([("a", 2, 20), (None, 4, 37)], key=repr)


def test_incremental_rollup_new_all_null_group_keeps_null_sum(spark):
    """A group present only in the delta takes its delta sums as they
    are: a new group whose values are all NULL sums to NULL, like the
    recompute's SUM — not to 0. A group the delta does not touch keeps
    its stored NULL sum."""
    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        incremental_rollup,
    )

    base = spark.createDataFrame(
        [("a", 1, 5), ("c", 1, None)], "g string, n long, tv long"
    )
    cdc = spark.createDataFrame(
        [("insert", "b", None, None, None)],
        "change_type string, g string, v long, old_g string, old_v long",
    )
    got = {
        r["g"]: (r["n"], r["tv"])
        for r in incremental_rollup(base, cdc, "g", "n", {"tv": "v"}).collect()
    }
    assert got == {"a": (1, 5), "b": (1, None), "c": (1, None)}


def test_rollup_delta_changes_equal_the_diff_of_the_fold(spark, tmp_path):
    """The change set the fold emits from its own join equals
    diff_frames of the touched base slice against apply_rollup_delta
    of it: updates, a group leaving, a new group, a NULL group, a
    net-zero group that writes nothing and a new group that nets to
    zero rows. Over a base read with its positions, every change row
    of a base group carries that group's position and an insert
    carries NULLs."""
    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        apply_rollup_delta,
        rollup_delta_changes,
    )
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        _POS_COLS,
        DocumentStore,
        _masked_scan,
        diff_frames,
    )

    store = DocumentStore(spark, str(tmp_path / "summary"), "g")
    store.commit(spark.createDataFrame(
        [("a", 2, 10), ("b", 1, 5), ("z", 3, 7), (None, 2, None),
         ("u", 4, 40)],
        "g string, n long, tv long",
    ))
    base = _masked_scan(spark, store.current_version_dir(), positions=True)
    delta = spark.createDataFrame(
        [("a", 1, 3), ("b", -1, -5), ("c", 2, None), (None, 1, 4),
         ("z", 0, 0), ("e", 0, 0)],
        "g string, d_count long, d_v long",
    )
    old = base.join(
        delta, base["g"].eqNullSafe(delta["g"]), "left_semi"
    ).drop(*_POS_COLS)
    want = diff_frames(
        old, apply_rollup_delta(old, delta, "g", "n", {"tv": "v"}), "g",
        include_old=True,
    )
    got = rollup_delta_changes(base, delta, "g", "n", {"tv": "v"})
    cols = want.columns
    assert sorted(got.select(*cols).collect(), key=repr) == sorted(
        want.collect(), key=repr
    )
    assert {r["g"]: r["change_type"] for r in got.collect()} == {
        "a": "update", "b": "delete", "c": "insert", None: "update",
    }
    where = {r["g"]: tuple(r[c] for c in _POS_COLS) for r in base.collect()}
    assert {
        r["g"]: tuple(r[c] for c in _POS_COLS) for r in got.collect()
    } == {
        "a": where["a"], "b": where["b"], None: where[None],
        "c": (None,) * len(_POS_COLS),
    }


def test_read_as_of_time_travel(spark, tmp_path):
    import os
    import time

    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "tt"), "pk")
    assert store.read_as_of(int(time.time() * 1000)) is None  # empty store
    v1 = store.commit(spark.createDataFrame([(1, "a")], "pk long, v string"))
    t1 = int(os.path.basename(v1).split("-")[1])
    time.sleep(0.01)
    store.commit(spark.createDataFrame([(1, "b")], "pk long, v string"))
    # as-of v1's commit instant -> v1's contents; as-of now -> v2's
    assert store.read_as_of(t1).collect()[0]["v"] == "a"
    assert store.read_as_of(int(time.time() * 1000)).collect()[0]["v"] == "b"
    assert store.read_as_of(t1 - 1) is None  # before the first commit


# ---------------------------------------------------------------------------
# CCNet buckets / span corruption
# ---------------------------------------------------------------------------


def test_ccnet_buckets_thirds_and_ordering(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.operators.text_analysis import (
        ccnet_buckets,
    )

    rng = random.Random(11)
    rows = []
    for i in range(90):
        # fluent docs: common bigrams; junk docs: rare transitions
        if i % 3 == 0:
            t = " ".join(rng.choices(["the", "then", "there"], k=12))
        else:
            t = " ".join(rng.choices(["zq", "xj", "qk", "the"], k=12))
        rows.append((i, t, f"s{i % 2}"))
    path = _write_docs(tmp_path, "ccn", rows)
    docs = spark.read.parquet(path)
    got = ccnet_buckets(docs).collect()
    by_src = {}
    for r in got:
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        n = len(rs)
        counts = {b: sum(1 for r in rs if r["bucket"] == b)
                  for b in ("head", "middle", "tail")}
        # thirds (within 1 for non-divisible groups)
        assert all(abs(c - n / 3) <= 1 for c in counts.values()), counts
        # every head score <= every tail score
        head_max = max(r["avg_nll"] for r in rs if r["bucket"] == "head")
        tail_min = min(r["avg_nll"] for r in rs if r["bucket"] == "tail")
        assert head_max <= tail_min


def test_span_corruption_coverage_overlap_determinism(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.plans.ext_queries import (
        SPAN_CORRUPT_LEN,
        SPAN_CORRUPT_RATE_PPM,
        _span_corruption_body,
    )

    rng = random.Random(13)
    rows = [
        (i, " ".join(rng.choices(["w", "x", "y"], k=rng.randint(1, 120))), "s")
        for i in range(400)
    ]
    path = _write_docs(tmp_path, "spc", rows)
    spark.read.parquet(path).createOrReplaceTempView("spc_docs")
    spans = spark.sql(_span_corruption_body(SPARK, "spc_docs")).collect()
    # determinism: second run identical
    spans2 = spark.sql(_span_corruption_body(SPARK, "spc_docs")).collect()
    assert sorted(map(tuple, spans)) == sorted(map(tuple, spans2))
    # non-overlap + in-bounds per doc
    n_words = {r[0]: len(r[1].split(" ")) for r in rows}
    per_doc = {}
    for s in spans:
        per_doc.setdefault(s["doc_id"], []).append(s)
    for d, ss in per_doc.items():
        ss.sort(key=lambda s: s["span_start"])
        end = 0
        for idx, s in enumerate(ss, 1):
            assert s["span_no"] == idx
            assert s["span_start"] > end
            end = s["span_start"] + s["span_len"] - 1
            assert end <= n_words[d]
    # coverage tracks the configured rate (binomial band)
    total_words = sum(n_words.values())
    masked = sum(s["span_len"] for s in spans)
    rate = SPAN_CORRUPT_RATE_PPM / 1e6
    assert abs(masked / total_words - rate) < 0.04


def test_describe_history_lineage(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "hist"), "pk")
    assert store.describe_history().count() == 0  # empty store
    store.commit(spark.range(3).selectExpr("id as pk", "'x' as v"))
    store.commit(spark.range(5).selectExpr("id as pk", "'y' as v"))
    hist = sorted(
        (r.asDict() for r in store.describe_history().collect()),
        key=lambda r: r["commit_ms"],
    )
    assert [h["n_rows"] for h in hist] == [3, 5]
    assert [h["is_current"] for h in hist] == [False, True]
    assert all(h["version_dir"].startswith("v-") for h in hist)


def test_stateful_profiles_cross_batch_state(spark, tmp_path):
    """A key appearing in 2+ micro-batches must ACCUMULATE through the
    state store (regression: GroupState.get is a property — calling it
    raised 'tuple not callable', latent while every key fit one batch)."""
    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.streaming import stateful, sync

    stream = sync.read_event_stream_duplicated(
        spark, "/root/testdata/sf0.001/events.parquet", copies=2
    )
    profiles = stateful.user_profiles(stream)
    q = (
        profiles.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_profiles_xb")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode: one row per (key, batch) — final state = max n_events
    got = {
        r["user_id"]: r["n"]
        for r in spark.table("t_profiles_xb")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n"))
        .collect()
    }
    batch = {
        r["user_id"]: r["n"]
        for r in spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {u: 2 * n for u, n in batch.items()}


def test_record_feed_streaming_source_incremental(spark, tmp_path):
    """Spark 4 Python STREAMING DataSource: micro-batches consume only
    NEW page files; a late-arriving page flows through without
    re-reading earlier ones (offset = consumed page count)."""
    import json

    from far_finer_airtable_firestore_sync_spark.sources import record_source

    d = tmp_path / "feed"
    d.mkdir()

    def write_page(p, lo, hi):
        with open(d / f"page-{p:03d}.jsonl", "w") as fh:
            for i in range(lo, hi):
                fh.write(json.dumps({
                    "id": f"rec{i}",
                    "createdTime": "2024-01-01T00:00:00Z",
                    "fields": {"Name": f"n{i}", "Score": i},
                }) + "\n")

    write_page(0, 0, 3)
    write_page(1, 3, 5)
    assert record_source.register(spark)
    stream = (
        spark.readStream.format("record_feed")
        .option("path", str(d))
        .option("fields", "Name, Score")
        .load()
    )
    sink = str(tmp_path / "sink")

    def run_once():
        q = (
            stream.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    assert spark.read.parquet(sink).count() == 5

    # a new page arrives: the restarted query consumes ONLY it (the
    # checkpointed offset carries across runs — exactly-once append)
    write_page(2, 5, 9)
    run_once()
    rows = {
        r["_record_id"]: r["Score"]
        for r in spark.read.parquet(sink).collect()
    }
    assert len(rows) == 9                      # 5 + 4, no re-reads
    assert rows["rec7"] == "7"                 # strings until the cast stage


def test_commit_ms_strictly_increasing(spark, tmp_path):
    """Rapid successive commits must get strictly increasing commit-ms
    version names — read_as_of breaks same-ms ties by uuid hex, which
    could return the superseded snapshot (review finding)."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "mono"), "pk")
    df = spark.createDataFrame([(1, "a")], "pk long, v string")
    for _ in range(4):  # sub-ms commits are impossible for Spark, but
        store.commit(df)  # the bump guard must hold regardless
    ms = [r["commit_ms"] for r in store.describe_history().collect()]
    assert sorted(ms) == ms and len(set(ms)) == len(ms)


def test_ewma_state_multi_chunk_ordering(spark, tmp_path):
    """Force >1 Arrow chunk per group (maxRecordsPerBatch=4): the EWMA
    recurrence must still fold in global (ts, event_id) order — the
    per-chunk sort bug diverged here (review finding)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from far_finer_airtable_firestore_sync_spark.streaming.stateful import (
        _trunc_half,
        ewma_profiles,
    )

    rng = random.Random(17)
    rows = []
    for i in range(40):  # ONE user, 40 events -> 10 chunks at size 4
        rows.append(
            (i, dt.datetime(2024, 1, 1, 0, i % 60, i // 60), 1,
             "click", float(rng.randint(1, 50000)) / 100)
        )
    path = str(tmp_path / "ev.parquet")
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([None] * len(rows), pa.string()),
        }),
        path,
    )
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        read_event_stream,
        run_stream_to_memory,
    )

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        out = run_stream_to_memory(
            ewma_profiles(read_event_stream(spark, path)),
            "t_ewma_chunks",
            output_mode="update",
        ).collect()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    # Python replay in exact (ts, event_id) order
    import decimal
    s = None
    for r in sorted(rows, key=lambda r: (r[1], r[0])):
        cents = int(decimal.Decimal(str(r[4])).quantize(decimal.Decimal("0.01")) * 100)
        s = cents if s is None else _trunc_half(s + cents)
    assert len(out) == 1
    assert (out[0]["n_events"], out[0]["ewma_q"]) == (40, s)


def test_concurrent_commits_preserve_all_txn_markers(spark, tmp_path):
    """Two writers committing CONCURRENTLY under different app_ids:
    the flock'd pointer read-modify-write must carry BOTH txn markers
    forward — a lost update here would let a streaming writer replay
    an epoch it already applied."""
    import threading

    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "cc"), "pk")
    df = spark.createDataFrame([(1, "x")], "pk long, v string")
    errs = []

    def writer(app, n):
        try:
            for i in range(n):
                store.commit(df, txn=(app, str(i)))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    ts = [threading.Thread(target=writer, args=(f"app{j}", 5)) for j in range(2)]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert not errs
    # every writer's LAST marker survived the interleaving
    assert store.last_txn("app0") == "4"
    assert store.last_txn("app1") == "4"
    # all 10 versions landed (names can tie on ms only under TRUE
    # concurrency — the strict-monotonicity guarantee is scoped to the
    # store's documented single-writer contract)
    assert len(store.list_versions()) == 10


def test_span_corruption_apply_round_trip(spark, tmp_path):
    """(input, target) pairs must reconstruct the original text:
    replacing each input sentinel with its target span's words (the
    T5 objective's invertibility property)."""
    import re

    from far_finer_airtable_firestore_sync_spark.plans.ext_queries import (
        _span_corruption_apply_body,
    )

    rng = random.Random(19)
    rows = [
        (i, " ".join(rng.choices(["w", "xx", "yyy"], k=rng.randint(1, 60))), "s")
        for i in range(200)
    ]
    path = _write_docs(tmp_path, "spa", rows)
    spark.read.parquet(path).createOrReplaceTempView("spa_docs")
    got = {
        r["doc_id"]: r
        for r in spark.sql(_span_corruption_apply_body(SPARK, "spa_docs")).collect()
    }
    orig = {r[0]: r[1] for r in rows}
    assert set(got) == set(orig)
    any_masked = False
    for d, r in got.items():
        target = r["target_text"]
        if r["n_spans"]:
            # canonical close: first UNUSED (0-indexed) sentinel ends it
            terminal = f"<extra_id_{r['n_spans']}>"
            assert target.endswith(" " + terminal)
            target = target[: -len(terminal) - 1]
        # parse target into {sentinel: words}; sentinels are 0-indexed
        spans = {}
        for m in re.finditer(
            r"(<extra_id_\d+>)((?: (?!<extra_id_)\S+)*)", target
        ):
            spans[m.group(1)] = m.group(2).strip()
        assert len(spans) == r["n_spans"]
        if spans:
            assert "<extra_id_0>" in spans
        rebuilt = r["input_text"]
        for sent_tok, words in spans.items():
            any_masked = True
            assert sent_tok in rebuilt
            rebuilt = rebuilt.replace(sent_tok, words, 1)
        assert rebuilt == orig[d].lower()
    assert any_masked  # the corpus is big enough that spans were chosen


def test_keep_best_representatives(spark):
    """Cluster winner = best score; ties break to the smaller id;
    singleton clusters keep their only member."""
    from far_finer_airtable_firestore_sync_spark.operators import dedup_docs

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (8, 7), (9, 9)],
        "doc_id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 500), (2, 900), (3, 900), (7, 100), (8, 100), (9, 42)],
        "doc_id long, clf_score_milli long",
    )
    got = {
        r["component"]: r
        for r in dedup_docs.keep_best_representatives(comps, scores).collect()
    }
    assert set(got) == {1, 7, 9}
    # best score wins (not min id): 2 and 3 tie at 900 -> smaller id 2
    assert got[1]["kept_id"] == 2 and got[1]["kept_score"] == 900
    assert got[1]["n_members"] == 3
    # exact tie across the whole cluster -> min id
    assert got[7]["kept_id"] == 7 and got[7]["n_members"] == 2
    assert got[9]["kept_id"] == 9 and got[9]["n_members"] == 1


def test_bitext_margin_mutual_best(spark):
    """Pairs must be MUTUAL best matches; margin is the ratio of the
    pair cosine to the mean top-k neighborhood average."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        similarity_search as ss,
    )

    # src 1 <-> tgt 11 aligned; src 2's best is tgt 11 too, but tgt 11
    # prefers src 1, so src 2 emits nothing; tgt 12 is near-orthogonal
    src = spark.createDataFrame(
        [(1, [1.0, 0.0, 0.0]), (2, [0.9, 0.1, 0.0])],
        "vec_id long, embedding array<float>",
    )
    tgt = spark.createDataFrame(
        [(11, [1.0, 0.05, 0.0]), (12, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    got = ss.bitext_margin_pairs(
        src, tgt, k=2, margin_threshold=0.0
    ).collect()
    assert [(r["src_id"], r["tgt_id"]) for r in got] == [(1, 11)]
    r = got[0]
    assert r["cosine"] > 0.99
    # margin > 1: the pair is closer than the neighborhood average
    # (which includes the near-orthogonal tgt 12)
    assert r["margin"] > 1.0


def _winnow_ref(text, k=8, w=4):
    """Independent Python winnowing reference (same hash basis)."""
    import hashlib

    t = text.lower()[:256]
    if len(t) < k + w - 1:
        return set()
    packs = []
    for i in range(1, len(t) - k + 2):
        h = int(hashlib.md5(t[i - 1 : i - 1 + k].encode()).hexdigest()[:12], 16)
        packs.append(h * 512 + (511 - i))
    sel = set()
    for s in range(0, len(packs) - w + 1):
        sel.add(min(packs[s : s + w]))
    return sel


def test_winnowing_matches_python_reference(spark):
    from far_finer_airtable_firestore_sync_spark.plans.ext_queries import (
        _winnowing_body,
    )
    from far_finer_airtable_firestore_sync_spark.functions.canonical import (
        SPARK as SPARK_D,
    )

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a totally different document about spark windows"),
        (3, "short"),          # < k+w-1: excluded
        (4, None),             # null: excluded
        (5, "aaaaaaaaaaaaaaaaaaaa"),  # degenerate run: tie-breaking
    ]
    spark.createDataFrame(rows, "doc_id long, text string")\
        .createOrReplaceTempView("winnow_t")
    got = {
        r["doc_id"]: r
        for r in spark.sql(_winnowing_body(SPARK_D, "winnow_t")).collect()
    }
    assert set(got) == {1, 2, 5}
    for d, text in [(1, rows[0][1]), (2, rows[1][1]), (5, rows[4][1])]:
        sel = _winnow_ref(text)
        hashes = [p // 512 for p in sel]
        assert got[d]["n_fp"] == len(sel)
        assert got[d]["fp_sum"] == sum(hashes)
        assert got[d]["fp_min"] == min(hashes)
        assert got[d]["fp_max"] == max(hashes)


def test_winnowing_shared_substring_guarantee():
    """Any shared substring of length >= k + w - 1 (11) must share a
    fingerprint — the MOSS local guarantee — checked on the Python
    reference that the SQL body is pinned against."""
    shared = "identical-span-here"
    a = "prefix one " + shared + " suffix alpha"
    b = "other start " + shared + " different end"
    fa = {p // 512 for p in _winnow_ref(a)}
    fb = {p // 512 for p in _winnow_ref(b)}
    assert fa & fb


def test_srp_lsh_subset_of_exact(spark):
    """SRP candidates rerank by the same exact cosine: every returned
    (query, neighbor, cosine) must appear in the exact brute-force
    ranking with the same cosine; ranks are contiguous from 1."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        similarity_search as ss,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter("vec_id < 5")
    approx = ss.srp_lsh_topk(emb, q, k=10).collect()
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in ss.cosine_topk(emb, q, k=10**6).collect()
    }
    assert approx
    per_q = {}
    for r in approx:
        assert exact[(r["query_id"], r["neighbor_id"])] == r["cosine"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_containment_catches_quotes_jaccard_misses(spark):
    """A short quote inside a long doc: containment 1.0, Jaccard well
    below the dedup threshold."""
    from far_finer_airtable_firestore_sync_spark.operators import dedup_docs

    long_text = " ".join(f"token{i:03d}" for i in range(30))   # ~240 chars
    quote = long_text[40:120]
    other = " ".join(f"zz{i:03d}x" for i in range(30))
    df = spark.createDataFrame(
        [(1, long_text), (2, quote), (3, other)],
        "doc_id long, text string",
    )
    got = dedup_docs.containment_pairs(df, df_cap=8, threshold=0.8).collect()
    assert [(r["id_small"], r["id_big"]) for r in got] == [(2, 1)]
    assert got[0]["containment"] == 1.0
    # Jaccard on the same pair is below any near-dup threshold
    sh = dedup_docs.with_shingles(df)
    pairs = spark.createDataFrame([(2, 1)], "id_a long, id_b long")
    jac = dedup_docs.ngram_jaccard_pairs(
        df, pairs, threshold=0.0, shingled=sh
    ).collect()
    assert jac[0]["jaccard"] < 0.5


def test_streaming_topk_state_crosses_batches(spark, tmp_path):
    """Top-k type counts must accumulate across micro-batches through
    the state store (two time-split files, one per trigger), with
    (count desc, type asc) tie-breaking."""
    import datetime as dt
    import os
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from far_finer_airtable_firestore_sync_spark.streaming.stateful import (
        topk_type_profiles,
    )
    from far_finer_airtable_firestore_sync_spark.streaming.sync import (
        read_event_stream,
        run_stream_to_memory,
    )

    def write(path, rows):
        pq.write_table(
            pa.table({
                "event_id": pa.array([r[0] for r in rows], pa.int64()),
                "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                "user_id": pa.array([r[2] for r in rows], pa.int64()),
                "event_type": pa.array([r[3] for r in rows], pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array([None] * len(rows), pa.string()),
            }),
            path,
        )

    t0 = dt.datetime(2024, 1, 1)
    # batch 1: user 1 sees a,a,b ; batch 2: b,b,c — final a:2 b:3 c:1
    d = tmp_path / "tk"
    d.mkdir()
    write(str(d / "p1.parquet"),
          [(1, t0, 1, "a"), (2, t0, 1, "a"), (3, t0, 1, "b")])
    write(str(d / "p2.parquet"),
          [(4, t0, 1, "b"), (5, t0, 1, "b"), (6, t0, 1, "c")])
    now = _time.time()
    os.utime(str(d / "p1.parquet"), (now, now))
    os.utime(str(d / "p2.parquet"), (now + 1, now + 1))
    out = run_stream_to_memory(
        topk_type_profiles(
            read_event_stream(spark, str(d), max_files_per_trigger=1), k=2
        ),
        "t_topk_state",
        output_mode="update",
    ).collect()
    final = max(
        (r for r in out if r["user_id"] == 1), key=lambda r: r["n_events"]
    )
    assert final["n_events"] == 6
    assert final["top_types"] == ["b", "a"]     # k=2 cut drops c
    assert final["top_counts"] == [3, 2]
    # the batch-1 update row proves state visibility mid-stream
    first = min(
        (r for r in out if r["user_id"] == 1), key=lambda r: r["n_events"]
    )
    assert first["n_events"] == 3
    assert first["top_types"] == ["a", "b"]     # 2 vs 1, tie-free


def test_variant_typed_access(spark):
    """Spark 4 VARIANT semantics the entry relies on: typed path
    extraction, nested objects, array indexing, null propagation, and
    schema_of_variant's merged view."""
    df = spark.createDataFrame(
        [(1, '{"k": 5, "tags": ["a", "b"], "meta": {"v": 7}}'),
         (2, '{"k": null}'),
         (3, None)],
        "id long, j string",
    )
    out = df.selectExpr("id", "parse_json(j) as v").selectExpr(
        "id",
        "variant_get(v, '$.k', 'bigint') as k",
        "cast(variant_get(v, '$.tags[1]', 'string') as string) as t1",
        "variant_get(v, '$.meta.v', 'bigint') as mv",
    ).collect()
    rows = {r["id"]: r for r in out}
    assert (rows[1]["k"], rows[1]["t1"], rows[1]["mv"]) == (5, "b", 7)
    assert rows[2]["k"] is None and rows[2]["t1"] is None
    assert rows[3]["k"] is None  # null JSON -> null variant -> null path
    sch = df.filter("id = 1").selectExpr(
        "schema_of_variant(parse_json(j)) as s"
    ).collect()[0]["s"]
    assert "OBJECT" in sch and "tags" in sch and "ARRAY" in sch


def test_video_framesample_quarantine_and_stride(spark):
    """The Y4M parser quarantines garbage/truncated clips as NULL rows
    and samples exactly ceil(n/k) frames; a hand-built 420 clip
    exercises the non-444 frame-size branch."""
    from far_finer_airtable_firestore_sync_spark.operators import multimodal

    w, h = 4, 2
    good = [b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1 C444\n"]
    for f in range(5):
        good.append(b"FRAME\n")
        good.append(bytes([10 * f]) * (w * h) + bytes([128]) * (w * h) * 2)
    clip420 = [b"YUV4MPEG2 W4 H2 F25:1 C420jpeg\n"]
    for f in range(2):
        clip420.append(b"FRAME\n")
        clip420.append(bytes([7]) * (w * h) + bytes([128]) * (w * h // 2))
    truncated = b"".join(good)[:-3]
    rows = [
        (1, b"".join(good), "video/x-yuv4mpeg"),
        (2, b"not a video at all", "video/x-yuv4mpeg"),
        (3, truncated, "video/x-yuv4mpeg"),
        (4, b"".join(clip420), "video/x-yuv4mpeg"),
    ]
    df = spark.createDataFrame(
        rows, "media_id long, content binary, media_type string"
    )
    got = {
        r["media_id"]: r
        for r in multimodal.video_frame_features(df, every_k=2).collect()
    }
    # clip 1: frames 0,2,4 sampled -> lumas 0,20,40 -> mean 20.0
    assert got[1]["n_frames"] == 5 and got[1]["n_sampled"] == 3
    assert got[1]["mean_luma"] == 20.0
    assert got[1]["width"] == 4 and got[1]["height"] == 2
    # garbage and truncated clips quarantine, not crash
    assert got[2]["n_frames"] is None and got[3]["n_frames"] is None
    # 4:2:0 geometry parses with the smaller frame payload
    assert got[4]["n_frames"] == 2 and got[4]["mean_luma"] == 7.0


def test_containment_postings_match_shingles(spark):
    """The blocking gram set must equal the exploded verification
    shingle set on mixed-case / NULL / short texts — the two
    derivations drifted once (lowercased blocking grams silently lost
    recall on uppercase docs; review finding)."""
    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.functions import (
        textsql as tx,
    )
    from far_finer_airtable_firestore_sync_spark.operators import dedup_docs

    df = spark.createDataFrame(
        [(1, "HELLO WORLD mixed Case text"), (2, None), (3, "short"),
         (4, "lower only words here")],
        "doc_id long, text string",
    )
    sh = dedup_docs.with_shingles(df)
    from_arrays = {
        (r["doc_id"], r["s"])
        for r in sh.select("doc_id", F.explode("_sh").alias("s")).collect()
    }
    base = tx.shingle_base("`text`", 256)
    from_postings = {
        (r["doc_id"], r["s"])
        for r in (
            df.select(F.col("doc_id"), F.expr(base).alias("_t"))
            .select(
                "doc_id",
                F.expr("explode(sequence(1, greatest(length(_t) - 8, 1)))")
                .alias("_i"),
                "_t",
            )
            .select("doc_id", F.expr("substring(_t, _i, 9)").alias("s"))
            .distinct()
            .collect()
        )
    }
    assert from_postings == from_arrays


def test_containment_mixed_case_recall(spark):
    """Regression: an UPPERCASE doc and its verbatim quote must pair at
    containment 1.0 even when lowercase docs share the same words
    (the lowercased blocking path inflated their df past the cap)."""
    from far_finer_airtable_firestore_sync_spark.operators import dedup_docs

    up = "HELLO WORLD THIS IS THE UPPER DOCUMENT WITH WORDS"
    rows = [(1, up), (2, up[8:40])] + [
        (10 + i, up.lower()) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup_docs.containment_pairs(df, df_cap=4, threshold=0.9)
    pairs = {(r["id_small"], r["id_big"]) for r in got.collect()}
    assert (2, 1) in pairs


def test_video_framesample_zero_area_quarantines(spark):
    from far_finer_airtable_firestore_sync_spark.operators import multimodal

    df = spark.createDataFrame(
        [(1, b"YUV4MPEG2 W0 H2 C444\nFRAME\n", "video/x-yuv4mpeg")],
        "media_id long, content binary, media_type string",
    )
    out = multimodal.video_frame_features(df).collect()
    assert len(out) == 1 and out[0]["n_frames"] is None


def test_apply_keep_best_drops_losers_keeps_singletons(spark):
    from far_finer_airtable_firestore_sync_spark.operators import dedup_docs

    corpus = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], "doc_id long, text string"
    )
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4), (5, 4)],
        "doc_id long, component long",
    )
    scores = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 50), (4, 5), (5, 5), (6, 1)],
        "doc_id long, clf_score_milli long",
    )
    kept = sorted(
        r["doc_id"]
        for r in dedup_docs.apply_keep_best(corpus, comps, scores).collect()
    )
    # cluster 1 keeps best-scored 2; cluster 4 keeps tie-min 4;
    # unclustered 6 passes through
    assert kept == [2, 4, 6]


def test_kmv_intersect_estimate_band(spark, tmp_path):
    """Known overlap by construction: A=src0..src9, B=src5..src14 over
    unique texts -> |A∩B|/|A∪B| = 1/3. The k=16 sketch's union and
    intersection estimates must land within the KMV error band
    (~1/sqrt(k-1) ~ 26%, take 3x for safety) and the degenerate
    exact branch must not fire."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from far_finer_airtable_firestore_sync_spark.functions.canonical import (
        SPARK as SPARK_D,
    )
    from far_finer_airtable_firestore_sync_spark.plans.ext_queries import (
        _kmv_intersect_body,
    )

    rows = []
    for s in range(15):
        for i in range(120):
            rows.append((s * 1000 + i, f"unique text {s} {i}", f"src{s}"))
    path = str(tmp_path / "kmvi.parquet")
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "source": pa.array([r[2] for r in rows], pa.string()),
        }),
        path,
    )
    spark.read.parquet(path).createOrReplaceTempView("kmvi_docs")
    r = spark.sql(_kmv_intersect_body(SPARK_D, "kmvi_docs")).collect()[0]
    assert (r["n_a"], r["n_b"], r["n_inter"]) == (1200, 1200, 600)
    union = 1800
    assert abs(r["kmv_union_est"] - union) <= 3 * union / (15 ** 0.5)
    # intersection estimate: wider band (two estimators compound)
    assert 0 < r["kmv_inter_est"] <= 3 * 600 + 1
