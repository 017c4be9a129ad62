"""Round-6 additions: ADVICE fixes + new operators."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# bucket_drift NULL semantics (round-5 ADVICE)
# ---------------------------------------------------------------------------


def test_bucket_drift_null_row_string_visible(spark, tmp_path):
    """A row whose rendered row-string is NULL must still contribute a
    digest: drift confined to such rows was previously invisible
    (NULL md5 skipped by sum() while count(*) matched)."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "bdnull"), "pk")
    # `name` concatenated raw: NULL name -> NULL rendered row string
    row_expr = "cast(pk as string) || '|' || name"
    key_expr = "cast(pk as string)"
    old = spark.createDataFrame(
        [(1, None), (2, "b")], "pk long, name string"
    )
    new = spark.createDataFrame(
        [(1, "was-null"), (2, "b")], "pk long, name string"
    )
    v1, v2 = store.commit(old), store.commit(new)
    # same counts per bucket, content differs ONLY in the NULL-rendered
    # row -> must still be reported
    drift = store.bucket_drift(v1, v2, row_expr, key_expr).collect()
    assert len(drift) == 1
    # and two identical snapshots (both with the NULL-rendered row)
    # report nothing
    v1b = store.commit(old)
    assert store.bucket_drift(v1, v1b, row_expr, key_expr).count() == 0


def test_bucket_drift_null_key_joins(spark, tmp_path):
    """Identical NULL-key populations on both sides must NOT be
    reported as diverging (NULL bucket previously never equi-joined)."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "bdkey"), "pk")
    row_expr = "coalesce(cast(pk as string), '<null>') || '|' || name"
    key_expr = "cast(pk as string)"
    df = spark.createDataFrame(
        [(None, "x"), (1, "a")], "pk long, name string"
    )
    v1, v2 = store.commit(df), store.commit(df)
    assert store.bucket_drift(v1, v2, row_expr, key_expr).count() == 0
    # and a drift in the NULL-key row IS seen
    df2 = spark.createDataFrame(
        [(None, "x-changed"), (1, "a")], "pk long, name string"
    )
    v3 = store.commit(df2)
    assert store.bucket_drift(v1, v3, row_expr, key_expr).count() == 1


# ---------------------------------------------------------------------------
# Literal (value-oracled) BRP-LSH ANN
# ---------------------------------------------------------------------------


def test_brp_literal_recall_and_rank_contiguity(spark):
    """The literal-projection BRP tier must recover most of the exact
    top-k on the fixture embeddings, emit contiguous ranks from 1, and
    score candidates with the same quantized cosine as the exact
    path (subset-of-exact-scores check)."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        similarity_search,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.filter("vec_id < 5")
    exact = similarity_search.cosine_topk(emb, queries, k=10).collect()
    approx = similarity_search.brp_lsh_topk_literal(
        emb, queries, k=10
    ).collect()
    e = {(r["query_id"], r["neighbor_id"]) for r in exact}
    a = {(r["query_id"], r["neighbor_id"]) for r in approx}
    assert e, "exact top-k must be non-empty"
    recall = len(e & a) / len(e)
    assert recall >= 0.8, f"recall {recall}"
    # ranks contiguous from 1 per query
    by_q = {}
    for r in approx:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert sorted(ranks) == list(range(1, len(ranks) + 1)), q
    # a pair present in both must carry the identical quantized cosine
    ex_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in ex_cos:
            assert r["cosine"] == ex_cos[key], key


def test_brp_literal_weights_deterministic():
    from far_finer_airtable_firestore_sync_spark.operators import (
        similarity_search,
    )

    w1 = similarity_search.brp_weights(8, 64)
    w2 = similarity_search.brp_weights(8, 64)
    assert w1 == w2
    assert all(-16 <= v <= 15 for row in w1 for v in row)
    o = similarity_search.brp_offsets(8, 16_000_000)
    assert o == similarity_search.brp_offsets(8, 16_000_000)
    assert all(0 <= v < 16_000_000 for v in o)


# ---------------------------------------------------------------------------
# XXH64 DuckDB emulation (the value-oracle enabler for xxhash64-keyed
# production paths) — fuzzed against Spark's NATIVE xxhash64
# ---------------------------------------------------------------------------


def _xx_ref():
    from far_finer_airtable_firestore_sync_spark.functions import textsql as tx

    P1, P2, P3, P4, P5 = (
        tx.XXH_P1, tx.XXH_P2, tx.XXH_P3, tx.XXH_P4, tx.XXH_P5,
    )
    M = (1 << 64) - 1

    def rotl(x, n):
        return ((x << n) | (x >> (64 - n))) & M

    def fmix(h):
        h ^= h >> 33
        h = (h * P2) & M
        h ^= h >> 29
        h = (h * P3) & M
        h ^= h >> 32
        return h

    def hash_bytes(bs, seed=42):
        n, off = len(bs), 0
        assert n < 32
        h = (seed + P5 + n) & M
        while off + 8 <= n:
            k1 = int.from_bytes(bs[off:off + 8], "little")
            h ^= (rotl((k1 * P2) & M, 31) * P1) & M
            h = (rotl(h, 27) * P1 + P4) & M
            off += 8
        if off + 4 <= n:
            h ^= (int.from_bytes(bs[off:off + 4], "little") * P1) & M
            h = (rotl(h, 23) * P2 + P3) & M
            off += 4
        while off < n:
            h ^= (bs[off] * P5) & M
            h = (rotl(h, 11) * P1) & M
            off += 1
        return fmix(h)

    return hash_bytes


def test_xxh64_duckdb_vs_spark_native(spark):
    """The DuckDB XXH64 emulation must match Spark's native xxhash64
    bit-for-bit on random short ASCII strings (+int seed chain) and on
    random long chains — the exact shapes the fast-LSH oracle uses."""
    import random
    import string

    import duckdb

    from far_finer_airtable_firestore_sync_spark.functions import textsql as tx

    rng = random.Random(603)
    alpha = string.ascii_letters + string.digits + " .,;!?-"
    cases = [
        "".join(rng.choice(alpha) for _ in range(rng.randint(0, 9)))
        for _ in range(120)
    ] + ["", "a", "abcdefgh", "abcdefghi"]
    # spark native: xxhash64(g) and xxhash64(g, 3)
    df = spark.createDataFrame([(c,) for c in cases], "g string")
    got_s = {
        r["g"]: (r["h"], r["h3"])
        for r in df.selectExpr(
            "g", "xxhash64(g) h", "xxhash64(g, 3) h3"
        ).collect()
    }
    steps, h42 = tx.xxh64_ascii_steps("g", 42, "x_")
    st3, r3 = tx.xxh64_int_steps("3", h42, "y_")
    ctes, fin = tx.render_staged_ctes(
        "inp", ["g"], steps + st3,
        [("h", tx.xxh64_signed(h42)), ("h3", tx.xxh64_signed(r3))], "st",
    )
    lits = ",".join("'" + c.replace("'", "''") + "'" for c in cases)
    sql = (
        f"with inp as (select unnest([{lits}]) as g),\n{ctes}\n"
        f"select g, h, h3 from {fin}"
    )
    got_d = {r[0]: (r[1], r[2]) for r in duckdb.sql(sql).fetchall()}
    assert got_s == got_d
    # python reference agrees too (documents the algorithm)
    hb = _xx_ref()
    for c in cases:
        u = hb(c.encode())
        signed = u - (1 << 64) if u >= (1 << 63) else u
        assert got_s[c][0] == signed

    # long chains: xxhash64(l1, l2, 7)
    longs = [
        (rng.randint(-2**63, 2**63 - 1), rng.randint(-2**63, 2**63 - 1))
        for _ in range(60)
    ]
    df2 = spark.createDataFrame(longs, "la long, lb long")
    got_s2 = {
        r["la"]: r["h"]
        for r in df2.selectExpr("la", "xxhash64(la, lb, 7) h").collect()
    }
    s1, r1 = tx.xxh64_long_steps(tx.xxh64_unsigned("la"), "42", "p_")
    s2, r2 = tx.xxh64_long_steps(tx.xxh64_unsigned("lb"), r1, "q_")
    s3, rr = tx.xxh64_int_steps("7", r2, "r_")
    ctes2, f2 = tx.render_staged_ctes(
        "inp2", ["la", "lb"], s1 + s2 + s3,
        [("h", tx.xxh64_signed(rr))], "lt",
    )
    sql2 = (
        "with inp2 as (select "
        f"unnest([{','.join(str(a) for a, _ in longs)}]) as la, "
        f"unnest([{','.join(str(b) for _, b in longs)}]) as lb),\n"
        f"{ctes2}\nselect la, h from {f2}"
    )
    got_d2 = {r[0]: r[1] for r in duckdb.sql(sql2).fetchall()}
    assert got_s2 == got_d2


# ---------------------------------------------------------------------------
# Multi-writer optimistic concurrency (VERDICT r5 item 5: make the
# single-writer scope of the pointer store an explicit, tested claim)
# ---------------------------------------------------------------------------


def test_store_multiwriter_cas_no_lost_updates(spark, tmp_path):
    """N concurrent writers doing read-modify-write with
    expected_version CAS + retry must serialize: every increment lands
    (no lost updates), every conflicted attempt raises
    ConcurrentCommitError rather than silently clobbering, and the
    version chain is strictly ordered. This is the documented
    multi-writer scope of the parquet+pointer store: optimistic
    concurrency on a filesystem with flock semantics — one host, many
    writers. Multi-HOST shared filesystems without flock are the
    Delta/Iceberg seam's territory (sources/backends.py)."""
    import threading

    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.sources.store import (
        ConcurrentCommitError,
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "mw"), "k")
    store.commit(spark.createDataFrame([(0, 0)], "k long, n long"))

    WRITERS, INCREMENTS = 3, 3
    conflicts = []

    def writer(wid: int):
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", str(wid))
        done = 0
        while done < INCREMENTS:
            base = store.current_version_dir()
            cur = store.read()
            post = cur.withColumn("n", F.col("n") + 1)
            try:
                store.commit(post, expected_version=base)
                done += 1
            except ConcurrentCommitError:
                conflicts.append(wid)  # retry from fresh state

    threads = [threading.Thread(target=writer, args=(w,))
               for w in range(WRITERS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    final = store.read().collect()
    assert len(final) == 1
    assert final[0]["n"] == WRITERS * INCREMENTS, (
        f"lost updates: {final[0]['n']} != {WRITERS * INCREMENTS} "
        f"(conflicts retried: {len(conflicts)})"
    )
    # version chain strictly increasing (commit-ms tie-bump holds under
    # contention because the flip is flock-serialized)
    versions = store.list_versions()
    ms = [int(v.split("-")[1]) for v in map(__import__("os").path.basename,
                                            versions)]
    assert ms == sorted(ms)
    assert len(set(ms)) == len(ms), "tied version timestamps"


# ---------------------------------------------------------------------------
# SimHash Hamming join + edit-distance join: completeness vs brute force
# ---------------------------------------------------------------------------


def test_simhash_pairs_complete_vs_brute_force(spark):
    """The pigeonhole-blocked join must return EXACTLY the pairs a
    brute-force popcount over all simhashes finds at hamming<=3."""
    import itertools
    import random

    from pyspark.sql import Row

    from far_finer_airtable_firestore_sync_spark.operators import (
        dedup_docs,
        text_analysis,
    )

    rng = random.Random(61)
    words = ["alpha", "beta", "gamma", "delta", "epsilon", "zeta",
             "eta", "theta", "iota", "kappa"]
    docs = []
    for i in range(40):
        base = " ".join(rng.choice(words) for _ in range(12))
        docs.append(Row(doc_id=i, text=base))
        if i % 4 == 0:  # near-identical twin: one word swapped
            toks = base.split()
            toks[rng.randrange(len(toks))] = rng.choice(words)
            docs.append(Row(doc_id=i + 1000, text=" ".join(toks)))
    df = spark.createDataFrame(docs)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup_docs.simhash_near_dup_pairs(df, max_hamming=3).collect()
    }
    sims = {r["doc_id"]: int(r["simhash"], 16)
            for r in text_analysis.simhash(df).collect()}
    want = set()
    for a, b in itertools.combinations(sorted(sims), 2):
        h = bin(sims[a] ^ sims[b]).count("1")
        if h <= 3:
            want.add((a, b, h))
    assert got == want and want, f"{len(want)} true pairs"


def test_edit_distance_pairs_complete_vs_brute_force(spark):
    """Blocked edit-distance join == brute-force levenshtein over all
    key pairs (within the documented >=12-char key domain), including
    pairs whose 2 edits hit the rarest grams."""
    import itertools
    import random

    from pyspark.sql import Row

    from far_finer_airtable_firestore_sync_spark.operators import dedup_docs

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[len(b)]

    rng = random.Random(62)
    alpha = "abcdefghijklmnopqrstuvwxyz "
    docs = []
    for i in range(60):
        # texts comfortably past key_chars so every key is full-width
        # (the operator's documented domain) even after 2 deletions
        base = "".join(rng.choice(alpha) for _ in range(rng.randint(28, 40)))
        docs.append(Row(doc_id=i, text=base))
        if i % 3 == 0:  # mutated twin: up to 2 random edits
            s = list(base)
            for _ in range(rng.randint(1, 2)):
                op = rng.randrange(3)
                pos = rng.randrange(len(s))
                if op == 0:
                    s[pos] = rng.choice(alpha)
                elif op == 1:
                    del s[pos]
                else:
                    s.insert(pos, rng.choice(alpha))
            docs.append(Row(doc_id=i + 1000, text="".join(s)))
    df = spark.createDataFrame(docs)
    got = {
        (r["id_a"], r["id_b"], r["edit_dist"])
        for r in dedup_docs.edit_distance_pairs(df).collect()
    }
    keys = {
        r.doc_id: r.text[:24].lower()
        for r in docs
        if len(r.text) >= 24
    }
    want = set()
    for a, b in itertools.combinations(sorted(keys), 2):
        d = lev(keys[a], keys[b])
        if d <= 2:
            want.add((a, b, d))
    assert got == want and want, f"{len(want)} true pairs"


# ---------------------------------------------------------------------------
# Grouped OLS trend
# ---------------------------------------------------------------------------


def test_events_user_trend_matches_numpy(spark):
    """The closed-form integer-sum OLS must match numpy's least
    squares on the same quantized inputs (per-day slope, intercept at
    the user's first event)."""
    import numpy as np

    from far_finer_airtable_firestore_sync_spark.plans.agg_queries import (
        SPARK_D,
        _user_trend_body,
        _utc,
    )

    _utc(spark)
    rows = [
        (1, "2024-01-01 00:00:00", 10.0),
        (1, "2024-01-02 00:00:00", 12.5),
        (1, "2024-01-04 00:00:00", 17.25),
        (1, "2024-01-07 00:00:00", 30.0),
        (2, "2024-01-01 00:00:00", 5.0),
        (2, "2024-01-03 00:00:00", 5.0),
        (3, "2024-01-05 12:00:00", 9.0),  # single event: excluded
    ]
    df = spark.createDataFrame(rows, "user_id long, ts_s string, value double")
    df = df.selectExpr("user_id", "cast(ts_s as timestamp) as ts", "value")
    df.createOrReplaceTempView("_trend_t")
    got = {
        r["user_id"]: r
        for r in spark.sql(_user_trend_body(SPARK_D, "_trend_t")).collect()
    }
    assert set(got) == {1, 2}
    import math

    for uid in (1, 2):
        pts = [(i, v) for (u, t, v) in rows if u == uid
               for i in [__import__("datetime").datetime.fromisoformat(t)
                         .timestamp() // 60]]  # minute resolution
        xs = np.array([p[0] for p in pts])
        xs = xs - xs.min()
        ys = np.array([math.floor(p[1] * 1024.0) for p in pts])
        slope, intercept = np.polyfit(xs, ys, 1)
        # slope is in quantized (2^-10-grid) units/min -> value units/day
        assert abs(got[uid]["slope_per_day"] - slope * 1440 / 1024) < 1e-9
        assert abs(got[uid]["intercept"] - intercept / 1024) < 1e-9
        assert got[uid]["n_events"] == len(pts)


# ---------------------------------------------------------------------------
# Image perceptual hash (dHash) through the REAL decode path
# ---------------------------------------------------------------------------


def test_image_dhash_matches_closed_form(spark):
    """dHash computed from DECODED BYTES must equal the closed form
    computed straight from gradient_channels — any header-parse,
    raster-indexing or bit-packing regression diverges."""
    from far_finer_airtable_firestore_sync_spark.operators import multimodal

    ids = [0, 1, 7, 17, 255, 256, 4999, 500010, 1000017]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    hashed = {
        r["media_id"]: r["dhash"]
        for r in multimodal.image_dhash(
            multimodal.synth_gradient_ppm_blobs(df)
        ).collect()
    }

    def expect(i: int) -> str:
        def gsum(x, y):
            return sum(multimodal.gradient_channels(i, x, y))

        val = 0
        for y in range(multimodal.DHASH_H):
            for x in range(multimodal.DHASH_W - 1):
                val = (val << 1) | (1 if gsum(x + 1, y) > gsum(x, y) else 0)
        return f"{val:016x}"

    assert hashed == {i: expect(i) for i in ids}
    # exact copy hashes identically; undecodable blob -> NULL
    assert hashed[1000017] == hashed[17]
    from pyspark.sql import Row

    bad = spark.createDataFrame(
        [Row(media_id=1, content=b"not a ppm", media_type="image/x")]
    )
    assert multimodal.image_dhash(bad).collect()[0]["dhash"] is None


def test_image_dhash_pairs_find_copies(spark):
    """The Hamming join must pair every exact copy with its original
    at distance 0."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        dedup_docs,
        multimodal,
    )

    base = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    copies = base.filter("doc_id % 5 = 0").selectExpr(
        "doc_id + 1000000 as doc_id"
    )
    hashed = multimodal.image_dhash(
        multimodal.synth_gradient_ppm_blobs(base.union(copies))
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup_docs.hex_hamming_pairs(
            hashed, "dhash", "media_id", 0
        ).collect()
    }
    for i in range(0, 40, 5):
        assert (i, i + 1000000) in pairs


# ---------------------------------------------------------------------------
# record_feed custom WRITER (Spark-4 Python DataSource sink)
# ---------------------------------------------------------------------------


def test_record_feed_writer_roundtrip_and_append(spark, tmp_path):
    """Write-audit-publish sink: staged temps become page-NNNNN.jsonl
    only at commit; the reader recovers the exact rows; append mode
    continues numbering after the existing max page."""
    import os

    from far_finer_airtable_firestore_sync_spark.sources import record_source

    assert record_source.register(spark)
    d = str(tmp_path / "sink")
    df = spark.createDataFrame(
        [("r1", "2024-01-01T00:00:00Z", "alice", "1.5"),
         ("r2", "2024-01-02T00:00:00Z", "bob", None)],
        "_record_id string, _created_time string, Name string, Score string",
    )
    df.repartition(2).write.format("record_feed").option("path", d).mode(
        "overwrite"
    ).save()
    pages = sorted(os.listdir(d))
    assert pages == ["page-00000.jsonl", "page-00001.jsonl"]
    back = (
        spark.read.format("record_feed").option("path", d)
        .option("fields", "Name, Score").load()
    )
    assert sorted(tuple(r) for r in back.collect()) == [
        ("r1", "2024-01-01T00:00:00Z", "alice", "1.5"),
        ("r2", "2024-01-02T00:00:00Z", "bob", None),
    ]
    # append continues numbering; overwrite resets
    df.limit(1).write.format("record_feed").option("path", d).mode(
        "append"
    ).save()
    assert "page-00002.jsonl" in os.listdir(d)
    df.coalesce(1).write.format("record_feed").option("path", d).mode(
        "overwrite"
    ).save()
    assert sorted(f for f in os.listdir(d) if f.startswith("page-")) == [
        "page-00000.jsonl"
    ]
    # no stray temp files after commits
    assert not [f for f in os.listdir(d) if f.startswith("_tmp-")]


# ---------------------------------------------------------------------------
# Zone-map data skipping (DocumentStore sidecar manifest)
# ---------------------------------------------------------------------------


def test_zone_map_pruning_skips_and_never_loses(spark, tmp_path):
    """Range-sorted commit -> disjoint per-file zones -> selective
    reads skip most files; pruning + re-filter returns exactly the
    full-scan answer; columns without zones keep every file."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        prune_files_by_zone,
        write_zone_manifest,
    )

    store = DocumentStore(spark, str(tmp_path / "zm"), "k")
    df = spark.range(0, 10_000).selectExpr(
        "id as k", "id % 100 as grp", "cast(id as double) / 7 as v"
    )
    vdir = store.commit(df.repartitionByRange(10, "k"))
    manifest = write_zone_manifest(vdir)
    assert len(manifest) == 10
    keep, total = prune_files_by_zone(vdir, "k", 2_000, 2_999)
    assert total == 10
    # repartitionByRange SAMPLES its boundaries (nondeterministic file
    # edges): a 10%-of-keys range can straddle a few files, so assert
    # real skipping without pinning the exact count
    assert len(keep) <= 4, keep
    # exact-grid comparison: a raw double sum differs in the last ulp
    # between the pruned and full reads (different partition layouts
    # -> different fold order; float addition is not associative —
    # flaked once in round 8), so compare on the floor(v*64) integer
    # grid the store entries standardized on
    exact = ["count(k) as n", "sum(cast(floor(v * 64) as bigint)) as s64"]
    got = (
        spark.read.parquet(*keep)
        .filter("k between 2000 and 2999")
        .selectExpr(*exact)
        .collect()[0]
    )
    want = (
        store.read()
        .filter("k between 2000 and 2999")
        .selectExpr(*exact)
        .collect()[0]
    )
    assert got == want
    # unknown column: every file kept (never lossy)
    keep2, _ = prune_files_by_zone(vdir, "not_a_column", 0, 1)
    assert len(keep2) == total
    # lazily-built manifest path (no sidecar yet)
    import os

    os.remove(f"{vdir}/_zone_manifest.json")
    keep3, total3 = prune_files_by_zone(vdir, "k", 2_000, 2_999)
    assert (sorted(keep3), total3) == (sorted(keep), total)


def test_zone_manifest_drops_partially_stated_columns(spark, tmp_path):
    """Review finding: a column with unusable stats in ANY row group
    must end the file with NO zone (kept by pruning) — a partial
    merged min/max would let pruning skip rows."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from far_finer_airtable_firestore_sync_spark.sources.store import (
        prune_files_by_zone,
        write_zone_manifest,
    )

    vdir = str(tmp_path / "v")
    os.makedirs(vdir)
    # two row groups: rg0 has decodable binary stats, rg1's max is
    # invalid UTF-8 -> the bin column must carry no zone at all
    t1 = pa.table({"k": [1, 2], "bin": [b"apple", b"banana"]})
    t2 = pa.table({"k": [3, 4], "bin": [b"zebra", b"\xff\xfe"]})
    w = pq.ParquetWriter(f"{vdir}/part-0.parquet", t1.schema)
    w.write_table(t1)
    w.write_table(t2)
    w.close()
    manifest = write_zone_manifest(vdir)
    cols = manifest["part-0.parquet"]["columns"]
    assert "k" in cols and cols["k"] == [1, 4]
    assert "bin" not in cols
    keep, total = prune_files_by_zone(vdir, "bin", "y", "zz")
    assert (len(keep), total) == (1, 1)  # zone-less column: file kept


# ---------------------------------------------------------------------------
# Anti-entropy repair + store schema evolution
# ---------------------------------------------------------------------------


def test_repair_rows_equals_full_diff(spark, tmp_path):
    """Bucket-pruned repair must return exactly diff_versions' rows —
    including insert/delete/update and NULL-key rows."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "rep"), "pk")
    old = spark.createDataFrame(
        [(i, f"n{i}", i * 10) for i in range(300)] + [(None, "nk", 1)],
        "pk long, name string, cents long",
    )
    new_rows = (
        [(i, f"n{i}", i * 10) for i in range(300) if i % 50 != 0]
        + [(7, "n7", 999), (123, "renamed", 1230)]
        + [(None, "nk-changed", 1), (1000, "fresh", 5)]
    )
    new = spark.createDataFrame(
        [r for r in new_rows if r[0] not in (7, 123)]
        + [(7, "n7", 999), (123, "renamed", 1230)],
        "pk long, name string, cents long",
    )
    v1, v2 = store.commit(old), store.commit(new)
    row_expr = (
        "coalesce(cast(pk as string), '<nk>') || '|' || name"
        " || '|' || cast(cents as string)"
    )
    key_expr = "cast(pk as string)"
    full = {
        tuple(r) for r in store.diff_versions(v1, v2).collect()
    }
    repaired = {
        tuple(r)
        for r in store.repair_rows(v1, v2, row_expr, key_expr).collect()
    }
    assert repaired == full and full, len(full)


def test_store_schema_evolution_versions_readable(spark, tmp_path):
    """Adding a column in a later commit: the current snapshot carries
    it, older versions stay readable with their own schema, and zone
    manifests cover the new column."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        write_zone_manifest,
    )

    store = DocumentStore(spark, str(tmp_path / "se"), "k")
    v1 = store.commit(spark.range(5).selectExpr("id as k", "id * 2 as a"))
    v2 = store.commit(
        spark.range(5).selectExpr("id as k", "id * 2 as a", "id + 100 as b")
    )
    assert store.read().columns == ["k", "a", "b"]
    assert store.read_version(v1).columns == ["k", "a"]
    man = write_zone_manifest(v2)
    assert all("b" in m["columns"] for m in man.values())


# ---------------------------------------------------------------------------
# Interval sweep line + HLL range merge
# ---------------------------------------------------------------------------


def test_max_concurrency_end_exclusive_semantics(spark):
    """Hand-computed sweep: 3 overlapping sessions peak at 3; a
    session starting exactly when another ends does NOT overlap it."""
    from far_finer_airtable_firestore_sync_spark.plans.agg_queries import (
        SPARK_D,
        _max_concurrency_body,
        _utc,
    )

    _utc(spark)
    rows = [
        # type a: [0,11), [5,16), [10,21) -> peak 3 at t=10
        ("a", "2024-01-01 00:00:00", 10.0),
        ("a", "2024-01-01 00:00:05", 10.0),
        ("a", "2024-01-01 00:00:10", 10.0),
        # type b: [0,6) then [6,12): end-exclusive -> peak 1
        ("b", "2024-01-01 00:00:00", 5.0),
        ("b", "2024-01-01 00:00:06", 5.0),
    ]
    df = spark.createDataFrame(rows, "event_type string, ts_s string, value double")
    df.selectExpr(
        "event_type", "cast(ts_s as timestamp) as ts", "value"
    ).createOrReplaceTempView("_conc_t")
    got = {
        r["event_type"]: r["peak_concurrency"]
        for r in spark.sql(_max_concurrency_body(SPARK_D, "_conc_t")).collect()
    }
    assert got == {"a": 3, "b": 1}


def test_hll_range_merge_equals_union_sketch(spark):
    """Mergeability: max-of-registers over the day range must equal
    the registers of the union of those days' values — asserted via
    the estimate of a range query against a one-shot sketch of the
    filtered rows (identical register math)."""
    import duckdb

    from far_finer_airtable_firestore_sync_spark.plans.ext_queries import (
        _hll_range_merge_body,
    )

    con = duckdb.connect()
    con.sql(
        "create view events as select * from "
        "'/root/testdata/sf0.001/events.parquet'"
    )
    merged = con.sql(_hll_range_merge_body("duckdb", "events")).fetchall()[0]
    # one-shot sketch over the SAME filtered rows: swap the daily
    # layer for a direct filter — estimates must be identical
    one_shot_rel = (
        "(select * from events where cast(ts as date) "
        "between date '2024-01-05' and date '2024-01-14')"
    )
    body = _hll_range_merge_body("duckdb", one_shot_rel)
    one = con.sql(body).fetchall()[0]
    assert merged == one
    # sanity: estimate within 40% of exact at m=64
    n_exact, est, _path = merged
    assert n_exact > 0 and abs(est - n_exact) / n_exact < 0.4


# ---------------------------------------------------------------------------
# Audio energy-contour fingerprint through the REAL decode path
# ---------------------------------------------------------------------------


def test_audio_fingerprint_matches_closed_form(spark):
    """Fingerprints from DECODED WAV bytes must equal the closed form
    from gradient_pcm_sample; copies pair at distance 0; bad bytes
    quarantine to NULL."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        dedup_docs,
        multimodal,
    )

    ids = [0, 1, 255, 256, 4999, 500010, 1000017, 17]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    hashed_df = multimodal.audio_energy_fingerprint(
        multimodal.synth_gradient_wav_blobs(df)
    )
    hashed = {r["media_id"]: r["afp"] for r in hashed_df.collect()}

    def expect(i: int) -> str:
        n, fl = multimodal.AFP_N_SAMPLES, multimodal.AFP_FRAME_LEN
        s = [multimodal.gradient_pcm_sample(i, j) for j in range(n)]
        e = [
            sum(x * x for x in s[f * fl:(f + 1) * fl])
            for f in range(multimodal.AFP_FRAMES)
        ]
        val = 0
        for f in range(multimodal.AFP_FRAMES - 1):
            val = (val << 1) | (1 if e[f + 1] > e[f] else 0)
        return f"{val:016x}"

    assert hashed == {i: expect(i) for i in ids}
    assert hashed[1000017] == hashed[17]  # exact copy
    # fingerprints vary across ids (non-degenerate fixture)
    assert len(set(hashed.values())) >= len(ids) - 1
    pairs = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup_docs.hex_hamming_pairs(
            hashed_df, "afp", "media_id", 3
        ).collect()
    }
    assert (17, 1000017, 0) in pairs
    # quarantine: truncated wav -> NULL
    from pyspark.sql import Row

    bad = spark.createDataFrame(
        [Row(media_id=1, content=b"RIFFxxxx", media_type="audio/wav")]
    )
    assert multimodal.audio_energy_fingerprint(bad).collect()[0]["afp"] is None


def test_read_where_prunes_and_matches_full_scan(spark, tmp_path):
    """read_where == read().filter() on every range, including an
    empty range and after compaction (new version -> fresh manifest)."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "rw"), "k")
    df = spark.range(0, 5_000).selectExpr("id as k", "id % 7 as m")
    store.commit(df.repartitionByRange(5, "k"))
    for lo, hi in [(100, 199), (0, 4999), (9000, 9999)]:
        got = sorted(
            tuple(r) for r in store.read_where("k", lo, hi).collect()
        )
        want = sorted(
            tuple(r)
            for r in store.read().filter(f"k between {lo} and {hi}").collect()
        )
        assert got == want, (lo, hi)
    # after compaction the pruned read follows the NEW version
    store.compact(target_rows_per_file=1_000)
    got = store.read_where("k", 100, 199).count()
    assert got == 100


def test_video_fingerprint_matches_closed_form(spark):
    """Fingerprints from PARSED Y4M bytes == closed form from
    gradient_luma; copies pair at 0; bad geometry quarantines."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        dedup_docs,
        multimodal,
    )

    ids = [0, 3, 255, 257, 4999, 500020, 1000034, 34]
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    hashed_df = multimodal.video_luma_fingerprint(
        multimodal.synth_gradient_y4m_blobs(df)
    )
    hashed = {r["media_id"]: r["vfp"] for r in hashed_df.collect()}

    def expect(i: int) -> str:
        sums = [
            sum(
                multimodal.gradient_luma(i, f, x, y)
                for y in range(multimodal.VFP_H)
                for x in range(multimodal.VFP_W)
            )
            for f in range(multimodal.VFP_FRAMES)
        ]
        val = 0
        for f in range(multimodal.VFP_FRAMES - 1):
            val = (val << 1) | (1 if sums[f + 1] > sums[f] else 0)
        return f"{val:016x}"

    assert hashed == {i: expect(i) for i in ids}
    assert hashed[1000034] == hashed[34]
    assert len(set(hashed.values())) >= len(ids) - 1
    pairs = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in dedup_docs.hex_hamming_pairs(
            hashed_df, "vfp", "media_id", 3
        ).collect()
    }
    assert (34, 1000034, 0) in pairs
    # wrong colorspace (420 default) quarantines
    from pyspark.sql import Row

    bad = spark.createDataFrame(
        [Row(media_id=1,
             content=b"YUV4MPEG2 W4 H2 F25:1 Ip A1:1\nFRAME\n" + b"\x00" * 12,
             media_type="video/x-yuv4mpeg")]
    )
    assert (
        multimodal.video_luma_fingerprint(bad).collect()[0]["vfp"] is None
    )


def test_diff_frames_null_key_semantics(spark, tmp_path):
    """Review finding: an UNCHANGED NULL-key row must emit NO diff
    rows (it used to emit two phantom inserts); a changed one emits
    exactly one 'update'; a deleted one emits 'delete' (not 'insert'
    with a NULL payload). repair_rows must agree with diff_versions
    on all of it."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "nk"), "pk")
    old = spark.createDataFrame(
        [(1, "a"), (None, "same"), (2, "gone")], "pk long, name string"
    )
    new = spark.createDataFrame(
        [(1, "a"), (None, "same")], "pk long, name string"
    )
    v1, v2 = store.commit(old), store.commit(new)
    diff = store.diff_versions(v1, v2).collect()
    assert [(r["pk"], r["change_type"]) for r in diff] == [(2, "delete")]
    # deleted NULL-key row -> 'delete'
    v3 = store.commit(spark.createDataFrame([(1, "a")], "pk long, name string"))
    d2 = {(r["pk"], r["change_type"]) for r in store.diff_versions(v2, v3).collect()}
    assert d2 == {(None, "delete")}
    # repair agrees
    row_expr = "coalesce(cast(pk as string), '<nk>') || '|' || name"
    rep = {
        (r["pk"], r["change_type"])
        for r in store.repair_rows(v2, v3, row_expr).collect()
    }
    assert rep == d2
    # position carry: an old side read with its positions hands each
    # old row's position to its change row without comparing it — the
    # unchanged row emits nothing, the NULL-key update and the delete
    # carry their own positions, the insert carries NULLs
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        _POS_COLS,
        _masked_scan,
        diff_frames,
    )

    old_pos = _masked_scan(spark, v1, positions=True)
    where = {r["pk"]: tuple(r[c] for c in _POS_COLS) for r in old_pos.collect()}
    target = spark.createDataFrame(
        [(1, "a"), (None, "moved"), (3, "new")], "pk long, name string"
    )
    got = diff_frames(old_pos, target, "pk", include_old=True)
    assert got.columns[-len(_POS_COLS):] == list(_POS_COLS)
    rows = {r["pk"]: r for r in got.collect()}
    assert {k: r["change_type"] for k, r in rows.items()} == {
        None: "update", 2: "delete", 3: "insert",
    }
    for k in (None, 2):
        assert tuple(rows[k][c] for c in _POS_COLS) == where[k]
    assert [rows[3][c] for c in _POS_COLS] == [None] * len(_POS_COLS)


def test_read_where_partitioned_store_keeps_partition_columns(spark, tmp_path):
    """Review finding: pruned leaf reads must pin basePath so a
    hive-partitioned snapshot keeps its partition columns."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "pbp"), "k")
    df = spark.range(0, 1000).selectExpr(
        "id as k", "id % 3 as region", "id * 2 as v"
    )
    store.commit(df.repartitionByRange(4, "k"), partition_by=["region"])
    out = store.read_where("k", 100, 199)
    assert set(out.columns) == {"k", "region", "v"}
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(
        tuple(r) for r in store.read().filter("k between 100 and 199").collect()
    )
    assert got == want


def test_store_restore_is_a_new_commit(spark, tmp_path):
    """RESTORE semantics: rolling back re-commits the old state (the
    pointer never moves backwards), intermediate versions stay
    reachable by time travel, and unknown versions are rejected."""
    import pytest as _pytest

    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )

    store = DocumentStore(spark, str(tmp_path / "rs"), "k")
    v1 = store.commit(spark.createDataFrame([(1, "a")], "k long, s string"))
    v2 = store.commit(spark.createDataFrame([(1, "b"), (2, "c")],
                                            "k long, s string"))
    v3 = store.restore(v1)
    assert v3 not in (v1, v2) and store.current_version_dir() == v3
    assert sorted(map(tuple, store.read().collect())) == [(1, "a")]
    # history is append-only: v2 still time-travels
    assert sorted(map(tuple, store.read_version(v2).collect())) == [
        (1, "b"), (2, "c")
    ]
    assert store.list_versions()[-1] == v3 and len(store.list_versions()) == 3
    with _pytest.raises(ValueError, match="not a committed version"):
        store.restore(str(tmp_path / "nope"))
