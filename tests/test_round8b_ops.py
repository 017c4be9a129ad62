"""Round-8 second-wave tests: OHLC bars, linear interpolation,
CUSUM changepoint, and the t-closeness audit — each pinned by an
independent Python replica or an algebraic invariant, not just the
DuckDB oracle (which shares the SQL body)."""

import math

import pandas as pd

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return [r.asDict() for r in df.collect()]


def _events_pdf():
    pdf = pd.read_parquet(f"{SF_DIR}/events.parquet")
    pdf = pdf[pdf["ts"].notna() & pdf["value"].notna()]
    return pdf


def test_ohlc_invariants_and_tick_conservation(spark):
    import __spark_entry__ as e

    out = _rows(e.queries()["events_ohlc_bars"](spark, SF_DIR))
    assert out
    for r in out:
        assert r["low"] <= r["open"] <= r["high"]
        assert r["low"] <= r["close"] <= r["high"]
        assert r["n_ticks"] >= 1
    pdf = _events_pdf()
    assert sum(r["n_ticks"] for r in out) == len(pdf)


def test_ohlc_matches_python_replica(spark):
    import __spark_entry__ as e

    out = {
        (r["event_type"], r["hr"]): r
        for r in _rows(e.queries()["events_ohlc_bars"](spark, SF_DIR))
    }
    pdf = _events_pdf().copy()
    pdf["hr"] = pdf["ts"].dt.floor("h")
    for (et, hr), g in pdf.groupby(["event_type", "hr"]):
        g = g.sort_values(["ts", "event_id"])
        r = out[(et, hr.to_pydatetime())]
        assert r["open"] == g["value"].iloc[0]
        assert r["close"] == g["value"].iloc[-1]
        assert r["high"] == g["value"].max()
        assert r["low"] == g["value"].min()
        assert r["n_ticks"] == len(g)


def _daily_cents(pdf, threshold=None):
    """Python replica of the decimal-exact daily cents aggregate."""
    from decimal import ROUND_HALF_UP, Decimal

    if threshold is not None:
        pdf = pdf[pdf["value"] > threshold]
    out = {}
    for (et, day), g in pdf.groupby(
        ["event_type", pdf["ts"].dt.floor("d").dt.date]
    ):
        s = sum(
            Decimal(repr(v)).quantize(Decimal("0.01"), ROUND_HALF_UP)
            for v in g["value"]
        )
        out[(et, day)] = int(math.floor(s * 100))
    return out


def test_interpolate_matches_python_replica(spark):
    import __spark_entry__ as e

    got = {
        (r["event_type"], r["day"]): r
        for r in _rows(e.queries()["events_interpolate"](spark, SF_DIR))
    }
    assert got
    # replica of the fill over the same grid. NOTE: double->decimal(18,2)
    # rounding replicated via Decimal(repr(v)) half-up; this matches the
    # engines on this fixture (no half-cent boundary doubles).
    obs = _daily_cents(_events_pdf(), threshold=250)
    days = sorted({d for (_, d) in got})
    types = sorted({t for (t, _) in got})
    assert set(got) == {(t, d) for t in types for d in days}
    for t in types:
        series = [(i, obs.get((t, d))) for i, d in enumerate(days)]
        known = [(i, v) for i, v in series if v is not None]
        for i, d in enumerate(days):
            r = got[(t, d)]
            v = obs.get((t, d))
            prevs = [(j, w) for j, w in known if j <= i]
            nexts = [(j, w) for j, w in known if j >= i]
            if v is not None:
                assert r["fill_src"] == "obs" and r["v_cents_filled"] == v
            elif prevs and nexts:
                (pj, pv), (nj, nv) = prevs[-1], nexts[0]
                num, den = pv * (nj - i) + nv * (i - pj), nj - pj
                # both engines truncate toward zero (Python // floors)
                want = abs(num) // den * (1 if num >= 0 else -1)
                assert r["fill_src"] == "interp"
                assert r["v_cents_filled"] == want, (t, d)
            elif prevs:
                assert r["fill_src"] == "locf"
                assert r["v_cents_filled"] == prevs[-1][1]
            else:
                assert r["fill_src"] == "bocf"
                assert r["v_cents_filled"] == nexts[0][1]


def test_cusum_matches_python_replica(spark):
    import __spark_entry__ as e

    got = {
        r["event_type"]: r
        for r in _rows(e.queries()["event_changepoint_cusum"](spark, SF_DIR))
    }
    obs = _daily_cents(_events_pdf())
    types = sorted({t for (t, _) in obs})
    assert set(got) == set(types)
    for t in types:
        days = sorted(d for (tt, d) in obs if tt == t)
        vs = [obs[(t, d)] for d in days]
        n, tot = len(vs), sum(vs)
        best = None
        pre = 0
        for i, (d, v) in enumerate(zip(days, vs), start=1):
            pre += v
            sc = n * pre - i * tot
            if best is None or abs(sc) > abs(best[1]):
                best = (d, sc)
        assert got[t]["changepoint_day"] == best[0]
        assert got[t]["cusum_scaled_by_n"] == best[1]


def test_tcloseness_matches_python_replica(spark):
    import __spark_entry__ as e

    got = {
        (r["c_nationkey"], r["c_mktsegment"]): r
        for r in _rows(e.queries()["tcloseness_audit"](spark, SF_DIR))
    }
    assert got
    pdf = pd.read_parquet(f"{SF_DIR}/customer.parquet")
    pdf["band"] = pdf["c_acctbal"].map(
        lambda v: 0 if v < 0 else (1 if v < 5000 else 2)
    )
    tn = len(pdf)
    gl = [int((pdf["band"] == b).sum()) for b in range(3)]
    for (nk, seg), g in pdf.groupby(["c_nationkey", "c_mktsegment"]):
        grp_n = len(g)
        cnt = [int((g["band"] == b).sum()) for b in range(3)]
        num = 0
        cg = ct = 0
        for b in range(3):
            cg += cnt[b]
            ct += gl[b]
            num += abs(cg * tn - ct * grp_n)
        r = got[(nk, seg)]
        assert r["grp_n"] == grp_n
        assert r["emd_num"] == num
        assert r["emd_den"] == 2 * grp_n * tn
        # EMD is a normalized distance: num <= den always
        assert r["emd_num"] <= r["emd_den"]
        assert r["t_close"] == (5 * num <= 2 * grp_n * tn)


def test_tcloseness_identical_distribution_is_zero(spark):
    """A group whose band distribution mirrors the global one has
    EMD exactly 0 — the defining property of the distance."""
    import __spark_entry__ as e
    from pyspark.sql import Row

    rows = []
    # two groups, both with the same 1:2:1 band mix -> global is also
    # 1:2:1 -> every group's EMD must be 0
    for nk, seg in [(0, "A"), (1, "B")]:
        for bal, k in [(-10.0, 1), (100.0, 2), (9000.0, 1)]:
            rows += [
                Row(
                    c_custkey=len(rows) + i,
                    c_name="x",
                    c_nationkey=nk,
                    c_acctbal=bal,
                    c_mktsegment=seg,
                )
                for i in range(k)
            ]
    spark.createDataFrame(rows).createOrReplaceTempView(
        "_ffs_tclose_customer"
    )
    from far_finer_airtable_firestore_sync_spark.plans.agg_queries import (
        TCLOSE_BODY,
    )

    out = _rows(spark.sql(TCLOSE_BODY.format(rel="_ffs_tclose_customer")))
    assert len(out) == 2
    for r in out:
        assert r["emd_num"] == 0 and r["t_close"]


def test_bloom_manifest_no_false_negatives(spark, tmp_path):
    """Every key present in a file must pass that file's bloom —
    bloom pruning is loss-free by definition; a false negative here
    would make prune_files_by_bloom silently drop matching rows."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        prune_files_by_bloom,
        write_bloom_manifest,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    store = DocumentStore(spark, str(tmp_path / "bl"), "event_id")
    vdir = store.commit(ev.repartition(8, F.col("user_id")))
    write_bloom_manifest(vdir, "event_id")
    import pyarrow.parquet as pq
    import glob
    import os

    all_ids = [r.event_id for r in ev.select("event_id").collect()]
    for probe in all_ids[::97]:  # sampled probes across the id space
        keep, total = prune_files_by_bloom(vdir, "event_id", [probe])
        assert keep, f"bloom false negative for {probe}"
        # the file that physically holds the key must be in keep
        owner = None
        for f in glob.glob(os.path.join(vdir, "*.parquet")):
            ids = set(
                pq.read_table(f, columns=["event_id"])
                .column("event_id").to_pylist()
            )
            if probe in ids:
                owner = f
                break
        assert owner is not None and owner in keep


def test_bloom_prune_is_deterministic_across_commits(spark, tmp_path):
    """Same data, two fresh commits: identical pruned file SETS
    (relative names) — murmur3 clustering + blake2b blooms have no
    run-dependent state."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        prune_files_by_bloom,
        write_bloom_manifest,
    )
    from pyspark.sql import functions as F
    import os

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "value"
    )
    rels = []
    for sub in ("a", "b"):
        store = DocumentStore(spark, str(tmp_path / sub), "event_id")
        vdir = store.commit(ev.repartition(8, F.col("user_id")))
        write_bloom_manifest(vdir, "event_id")
        keep, total = prune_files_by_bloom(vdir, "event_id", [17, 411])
        # file names embed a per-job uuid; the deterministic layout
        # fact is WHICH partition indices survive the prune
        rels.append(
            sorted(os.path.basename(k).split("-")[1] for k in keep)
        )
        assert 0 < len(keep) < total
    assert rels[0] == rels[1]


def test_deletion_vectors_positional_row_identity(spark, tmp_path):
    """The DV-masked read returns EXACTLY the non-matching rows —
    full row-level identity against the direct NOT-filter, and the
    data files stay byte-identical (delete-without-rewrite)."""
    import glob
    import hashlib
    import os

    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        read_with_deletion_vectors,
        write_deletion_vectors,
    )
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    store = DocumentStore(spark, str(tmp_path / "dv"), "event_id")
    vdir = store.commit(ev.repartition(4, F.col("user_id")))

    def _digests():
        return {
            os.path.basename(f): hashlib.md5(
                open(f, "rb").read()
            ).hexdigest()
            for f in glob.glob(os.path.join(vdir, "*.parquet"))
        }

    before = _digests()
    pred = "event_type = 'error' and user_id % 3 = 0"
    nd = write_deletion_vectors(spark, vdir, pred)
    assert nd > 0
    assert _digests() == before  # no data file rewritten
    got = sorted(tuple(r) for r in read_with_deletion_vectors(
        spark, vdir).collect())
    want = sorted(
        tuple(r) for r in ev.filter(f"not ({pred})").collect()
    )
    assert got == want


def test_deletion_vectors_absent_is_plain_scan(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        read_with_deletion_vectors,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "value"
    )
    store = DocumentStore(spark, str(tmp_path / "plain"), "event_id")
    vdir = store.commit(ev)
    assert read_with_deletion_vectors(spark, vdir).count() == ev.count()


def test_zone_manifest_skips_dv_sidecar(spark, tmp_path):
    """write_zone_manifest over a version that carries a DV sidecar
    must not index the sidecar's parquet files as data."""
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        write_deletion_vectors,
        write_zone_manifest,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type", "value"
    )
    store = DocumentStore(spark, str(tmp_path / "zdv"), "event_id")
    vdir = store.commit(ev)
    write_deletion_vectors(spark, vdir, "user_id % 5 = 0")
    manifest = write_zone_manifest(vdir)
    assert manifest
    assert all("_deletion_vectors" not in rel for rel in manifest)


def test_sq8_codes_bounded_and_calibrated(spark):
    """Every SQ8 code lies in [0, 255]; each dimension's corpus min
    maps to 0 and max to 255 (affine calibration actually spans the
    byte range — a shifted/clipped map would waste code space)."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        similarity_search as ss,
    )
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c = ss._quantized(emb, "embedding", "_qv")
    mn, span = ss.sq8_stats(c)
    coded = ss.sq8_codes(c, mn, span)
    lo, hi = coded.select(
        F.min(F.array_min("_qc")), F.max(F.array_max("_qc"))
    ).first()
    assert lo == 0 and hi == 255
    per_dim = (
        coded.select(F.posexplode("_qc").alias("p", "c"))
        .groupBy("p")
        .agg(F.min("c").alias("cmn"), F.max("c").alias("cmx"))
        .collect()
    )
    for r in per_dim:
        assert r.cmn == 0 and r.cmx == 255, (r.p, r.cmn, r.cmx)


def test_sq8_recall_vs_exact_cosine(spark):
    """Decoded-code scoring must track exact cosine ranking on the
    unit-norm fixture: rerank@10 recall >= 0.9, raw SQ8 >= 0.8
    (measured 1.0 / 0.98; raw UNSIGNED-code dot scored 0.1 before the
    decode fix — this test is the regression guard for that)."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        similarity_search as ss,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter("vec_id % 100 = 0")
    exact = {
        (r.query_id, r.neighbor_id)
        for r in ss.cosine_topk(emb, q, k=10).collect()
    }
    rr = {
        (r.query_id, r.neighbor_id)
        for r in ss.sq8_rerank_topk(emb, q, k=10, shortlist=50).collect()
    }
    sq = {
        (r.query_id, r.neighbor_id)
        for r in ss.sq8_topk(emb, q, k=10).collect()
    }
    assert len(exact & rr) / len(exact) >= 0.9
    assert len(exact & sq) / len(exact) >= 0.8


def test_sq8_rerank_subset_of_shortlist(spark):
    """The rerank stage may only ever return pairs its SQ8 shortlist
    produced — the cascade contract."""
    from far_finer_airtable_firestore_sync_spark.operators import (
        similarity_search as ss,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter("vec_id % 100 = 0")
    short = {
        (r.query_id, r.neighbor_id)
        for r in ss.sq8_topk(emb, q, k=50).collect()
    }
    rer = {
        (r.query_id, r.neighbor_id)
        for r in ss.sq8_rerank_topk(emb, q, k=10, shortlist=50).collect()
    }
    assert rer <= short


def test_readability_matches_python_replica(spark):
    """FK grade per doc against a regex replica in Python (truncating
    integer division replicated exactly)."""
    import re

    import __spark_entry__ as e

    got = {
        r["doc_id"]: r
        for r in _rows(e.queries()["text_readability"](spark, SF_DIR))
    }
    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    assert set(got) == set(pdf["doc_id"])
    for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
        t = text or ""
        # word count comes from the shared WORD regex in textsql; the
        # replica trusts the entry's n_words and re-derives the rest
        r = got[doc_id]
        s0 = len(re.findall(r"[.!?]+", t))
        y0 = len(re.findall(r"[aeiouy]+", t.lower()))
        assert r["n_sentences"] == s0
        assert r["n_vowel_groups"] == y0
        w = max(r["n_words"], 1)
        s = max(s0, 1)
        y = max(y0, r["n_words"], 1)
        num = 390 * w * w + 11800 * y * s - 15590 * s * w
        den = s * w
        want = abs(num) // den * (1 if num >= 0 else -1)
        assert r["fk_grade_milli"] == want


def test_preference_pairs_disjoint_and_positive_margin(spark):
    import __spark_entry__ as e

    out = _rows(e.queries()["mining_preference_pairs"](spark, SF_DIR))
    assert out
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
        assert r["margin_milli"] > 0
    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    n_by_src = pdf[pdf["text"].notna() & pdf["source"].notna()][
        "source"
    ].value_counts()
    for src, rows in by_src.items():
        chosen = {r["chosen_id"] for r in rows}
        rejected = {r["rejected_id"] for r in rows}
        assert not (chosen & rejected), src
        assert len(rows) <= min(int(n_by_src[src]) // 2, 50)
        # pair ranks are 1..k contiguous before the margin filter;
        # after it they are still unique
        prs = [r["pair_rank"] for r in rows]
        assert len(prs) == len(set(prs))


def test_expectations_first_violation_and_null_hostility(spark):
    """Multi-violating rows report the FIRST rule in declaration
    order; NULL predicates count as violations."""
    from far_finer_airtable_firestore_sync_spark.operators.expectations import (
        apply_expectations,
        split_expectations,
    )
    from pyspark.sql import Row

    df = spark.createDataFrame(
        [
            Row(a=1, b=1),      # clean
            Row(a=-1, b=1),     # violates r1
            Row(a=-1, b=-1),    # violates r1 AND r2 -> reported as r1
            Row(a=1, b=-1),     # violates r2
            Row(a=None, b=1),   # NULL predicate -> violation (r1)
        ]
    )
    rules = [("a_pos", "a >= 0"), ("b_pos", "b >= 0")]
    tagged = {
        (r.a, r.b): r._violation
        for r in apply_expectations(df, rules).collect()
    }
    assert tagged[(1, 1)] is None
    assert tagged[(-1, 1)] == "a_pos"
    assert tagged[(-1, -1)] == "a_pos"
    assert tagged[(1, -1)] == "b_pos"
    assert tagged[(None, 1)] == "a_pos"
    valid, quar = split_expectations(df, rules)
    assert valid.count() + quar.count() == df.count()
    assert "_violation" not in valid.columns
    assert "_violation" in quar.columns


def test_expectations_entry_partitions_the_table(spark):
    """committed + quarantined row counts must cover events exactly,
    and every reason matches a declared rule name."""
    import __spark_entry__ as e

    out = _rows(e.queries()["store_expectations"](spark, SF_DIR))
    n = sum(r["n_events"] for r in out)
    total = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert n == total
    names = {r[0] for r in e._EXPECT_RULES} | {"ok"}
    assert {r["reason"] for r in out} <= names
    assert any(r["status"] == "committed" for r in out)
    assert any(r["status"] == "quarantined" for r in out)


def test_dpp_entry_plan_has_dynamic_pruning(spark):
    """The hot-type join over the hive-partitioned store version must
    plan a DPP subquery (dynamicpruningexpression in PartitionFilters)
    — the runtime directory-skipping tier the entry exists to prove."""
    import tempfile

    from far_finer_airtable_firestore_sync_spark.plans.agg_queries import (
        read_events,
    )
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )
    from pyspark.sql import functions as F

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = read_events(spark, SF_DIR).select(
        "event_id", "event_type", "value"
    )
    store = DocumentStore(
        spark, tempfile.mkdtemp(prefix="ffs_dpp_t_"), "event_id"
    )
    vdir = store.commit(
        ev.repartition(F.col("event_type")), partition_by=["event_type"]
    )
    fact = spark.read.parquet(vdir)
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    ntypes, tot = counts.agg(F.count(F.lit(1)), F.sum("n")).first()
    hot = counts.filter(
        F.col("n") * F.lit(int(ntypes)) >= F.lit(int(tot))
    ).select("event_type")
    j = fact.join(F.broadcast(hot), "event_type").groupBy(
        "event_type"
    ).count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]


def test_line_dedup_rules_fire_and_replica(spark):
    """Every planted phenomenon must be observable: the repeated
    first line drops (within-doc dedup), the constant footer drops
    (cross-doc boilerplate), 'end' drops (short-line) — verified by a
    Python replica of the whole pipeline including reassembly md5."""
    import hashlib

    import __spark_entry__ as e

    got = {
        r["gid"]: r
        for r in _rows(e.queries()["text_line_dedup"](spark, SF_DIR))
    }
    assert got
    pdf = pd.read_parquet(f"{SF_DIR}/documents.parquet")
    pdf = pdf[pdf["text"].notna()]
    docs = {}
    for gid, g in pdf.groupby(pdf["doc_id"] // 4):
        g = g.sort_values("doc_id")
        texts = list(g["text"])
        dtext = "\n".join(
            texts + [texts[0], "all rights reserved footer", "end"]
        )
        docs[gid] = dtext.split("\n")
    from collections import Counter

    xdoc = Counter()
    for gid, lines in docs.items():
        for line in set(lines):
            xdoc[line] += 1
    for gid, lines in docs.items():
        seen = set()
        kept = []
        for line in lines:
            if line in seen:
                continue
            seen.add(line)
            if xdoc[line] > 1:
                continue
            if len([w for w in line.split(" ") if w]) < 3:
                continue
            kept.append(line)
        r = got[gid]
        assert r["n_lines_in"] == len(lines)
        assert r["n_lines_kept"] == len(kept)
        if kept:
            want = hashlib.md5("\n".join(kept).encode()).hexdigest()
            assert r["cleaned_md5"] == want, gid
        # the footer and the 1-word line are always dropped
        assert r["n_lines_kept"] <= len(lines) - 3


def test_knn_outliers_matches_numpy_replica(spark):
    """Landmark-kNN outlier screen against an exact int64 numpy
    replica (same milli quantization, same anchors, same tie-breaks)."""
    import numpy as np

    import __spark_entry__ as e

    got = [
        (r["vec_id"], r["knn_d2_sum"], r["rank"])
        for r in _rows(e.queries()["embedding_knn_outliers"](spark, SF_DIR))
    ]
    assert len(got) == 20
    pdf = pd.read_parquet(f"{SF_DIR}/embeddings.parquet")
    ids = pdf["vec_id"].to_numpy()
    q = np.array(
        [np.round(np.array(v, dtype=np.float64) * 1000) for v in
         pdf["embedding"]],
        dtype=np.int64,
    )
    anchors = ids % 20 == 0
    scores = {}
    for i, vid in enumerate(ids):
        d2 = ((q[anchors] - q[i]) ** 2).sum(axis=1)
        aid = ids[anchors]
        mask = aid != vid
        order = np.lexsort((aid[mask], d2[mask]))
        scores[int(vid)] = int(d2[mask][order][:8].sum())
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert got == [
        (vid, s, i + 1) for i, (vid, s) in enumerate(want)
    ]


def test_quantile_normalize_properties_and_replica(spark):
    """Quantile normalization: monotone within source, the top doc of
    every source maps to the global max score, and an exact Python
    replica of rank -> per-mille -> global-histogram lookup agrees."""
    import __spark_entry__ as e

    got = {
        r["doc_id"]: r
        for r in _rows(
            e.queries()["quality_quantile_normalize"](spark, SF_DIR)
        )
    }
    assert got
    # replicate scores from the entry's own output (score_milli), the
    # replica re-derives only the normalization
    rows = sorted(
        (r["source"], r["score_milli"], d) for d, r in got.items()
    )
    n_total = len(rows)
    hist = {}
    for _, s, _ in rows:
        hist[s] = hist.get(s, 0) + 1
    cum = []
    acc = 0
    for s in sorted(hist):
        acc += hist[s]
        cum.append((s, acc))
    by_src = {}
    for src, s, d in rows:
        by_src.setdefault(src, []).append((s, d))
    for src, members in by_src.items():
        members.sort()
        n = len(members)
        prev = None
        for i, (s, d) in enumerate(members, start=1):
            q = (1000 * i + n - 1) // n
            want = min(gs for gs, c in cum if 1000 * c >= q * n_total)
            r = got[d]
            assert r["norm_milli"] == want, (src, d)
            if prev is not None:
                assert r["norm_milli"] >= prev
            prev = r["norm_milli"]
        # the top-ranked doc maps to the global max score
        assert prev == max(hist)


def test_association_rules_matches_python_replica(spark):
    """Support/confidence/lift against a from-scratch basket replica
    (exact truncating integer fractions)."""
    from collections import Counter
    from itertools import permutations

    import __spark_entry__ as e

    got = {
        (r["antecedent"], r["consequent"]): r
        for r in _rows(e.queries()["mining_association_rules"](spark, SF_DIR))
    }
    assert got
    li = pd.read_parquet(f"{SF_DIR}/lineitem.parquet")
    pt = pd.read_parquet(f"{SF_DIR}/part.parquet")
    j = li.merge(pt, left_on="l_partkey", right_on="p_partkey")
    baskets = {
        oid: set(g["p_brand"]) for oid, g in j.groupby("l_orderkey")
    }
    n = len(baskets)
    ic = Counter()
    pair = Counter()
    for items in baskets.values():
        ic.update(items)
        for a, b in permutations(sorted(items), 2):
            pair[(a, b)] += 1
    want = {}
    for (a, b), c_ab in pair.items():
        if c_ab * 50 >= n:
            want[(a, b)] = (
                c_ab,
                1_000_000 * c_ab // n,
                1_000_000 * c_ab // ic[a],
                1000 * c_ab * n // (ic[a] * ic[b]),
            )
    assert set(got) == set(want)
    for k, (c_ab, sup, conf, lift) in want.items():
        r = got[k]
        assert (
            r["n_pair"],
            r["support_ppm"],
            r["confidence_ppm"],
            r["lift_milli"],
        ) == (c_ab, sup, conf, lift), k
    # rules are symmetric in support but not confidence: both
    # directions exist above min-support by symmetry of c_ab
    for a, b in want:
        assert (b, a) in want


def test_shallow_clone_is_independent_store(spark, tmp_path):
    """A clone is a first-class store: commits to the clone do not
    disturb the source, vacuuming the source does not break the clone
    (hard links hold inodes), and the clone's snapshot equals the
    source's at clone time."""
    from pyspark.sql import functions as F

    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        shallow_clone,
    )

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    src = DocumentStore(spark, str(tmp_path / "src"), "event_id")
    src.commit(ev.filter("event_id % 2 = 0"))  # old version
    src.commit(ev)  # current
    clone = shallow_clone(spark, src, str(tmp_path / "dst"))
    n_src = src.read().count()
    assert clone.read().count() == n_src
    # clone commits independently
    clone.commit(ev.filter("event_id % 3 = 0"))
    assert src.read().count() == n_src
    assert clone.read().count() == ev.filter("event_id % 3 = 0").count()
    # vacuum the source down to its latest: the clone's ORIGINAL
    # snapshot (pre-commit) stays readable through its own version dir
    src.vacuum(keep_last=1)
    assert clone.list_versions()  # clone history intact
    got = sorted(
        tuple(r) for r in clone.read_version(
            clone.list_versions()[0]).collect()
    )
    want = sorted(tuple(r) for r in ev.collect())
    assert got == want


def test_shallow_clone_empty_source_raises(spark, tmp_path):
    import pytest

    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
        shallow_clone,
    )

    src = DocumentStore(spark, str(tmp_path / "esrc"), "event_id")
    with pytest.raises(ValueError):
        shallow_clone(spark, src, str(tmp_path / "edst"))


def test_shallow_clone_pointer_is_durable(spark, tmp_path, monkeypatch):
    """The clone's pointer bytes are fsync'd before the rename that
    publishes them, and the clone directory after it."""
    import os
    import stat

    from far_finer_airtable_firestore_sync_spark.sources import store as store_mod

    calls = []

    class _RecordingOs:
        def __getattr__(self, name):
            return getattr(os, name)

        def fsync(self, fd):
            is_dir = stat.S_ISDIR(os.fstat(fd).st_mode)
            kind = "fsync_dir" if is_dir else "fsync_file"
            calls.append((kind, os.readlink(f"/proc/self/fd/{fd}")))
            os.fsync(fd)

        def replace(self, src, dst):
            calls.append(("replace", dst))
            os.replace(src, dst)

    src = store_mod.DocumentStore(spark, str(tmp_path / "src"), "k")
    src.commit(spark.range(5).withColumnRenamed("id", "k"))
    dest = str(tmp_path / "dst")
    monkeypatch.setattr(store_mod, "os", _RecordingOs())
    clone = store_mod.shallow_clone(spark, src, dest)
    monkeypatch.undo()
    pointer = os.path.join(dest, store_mod._POINTER)
    assert calls == [
        ("fsync_file", pointer + ".tmp"),
        ("replace", pointer),
        ("fsync_dir", dest),
    ]
    assert clone.read().count() == 5


def test_incremental_join_refresh_hand_case(spark):
    """Every join-IVM leg on a hand-built pair of snapshots: insert,
    delete, payload update, foreign-key move, dim delete (fact rows
    leave with no fact-side change), dim attribute update."""
    from pyspark.sql import Row

    from far_finer_airtable_firestore_sync_spark.operators.ivm import (
        incremental_join_refresh,
    )
    from far_finer_airtable_firestore_sync_spark.sources.store import (
        DocumentStore,
    )
    import tempfile

    f0 = spark.createDataFrame(
        [
            Row(k=1, fk=10, v=100),   # payload update in v1
            Row(k=2, fk=10, v=200),   # deleted in v1
            Row(k=3, fk=20, v=300),   # fk moves 20 -> 30 in v1
            Row(k=4, fk=40, v=400),   # untouched, but dim 40 deleted
            Row(k=5, fk=50, v=500),   # untouched; dim 50 attr update
            Row(k=6, fk=10, v=600),   # fully untouched
        ]
    )
    f1 = spark.createDataFrame(
        [
            Row(k=1, fk=10, v=111),
            Row(k=3, fk=30, v=300),
            Row(k=4, fk=40, v=400),
            Row(k=5, fk=50, v=500),
            Row(k=6, fk=10, v=600),
            Row(k=7, fk=20, v=700),  # insert
        ]
    )
    d0 = spark.createDataFrame(
        [Row(dk=10, a="x"), Row(dk=20, a="y"), Row(dk=30, a="z"),
         Row(dk=40, a="w"), Row(dk=50, a="v")]
    )
    d1 = spark.createDataFrame(
        [Row(dk=10, a="x"), Row(dk=20, a="y"), Row(dk=30, a="z"),
         Row(dk=50, a="V")]  # 40 deleted, 50 updated
    )
    fs = DocumentStore(spark, tempfile.mkdtemp(prefix="ivmj_f_"), "k")
    ds = DocumentStore(spark, tempfile.mkdtemp(prefix="ivmj_d_"), "dk")
    fv0, fv1 = fs.commit(f0), fs.commit(f1)
    dv0, dv1 = ds.commit(d0), ds.commit(d1)
    fact0, fact1 = fs.read_version(fv0), fs.read_version(fv1)
    dim0, dim1 = ds.read_version(dv0), ds.read_version(dv1)
    m0 = fact0.join(dim0, fact0["fk"] == dim0["dk"]).select(
        "k", "fk", "v", "a"
    )
    m1 = incremental_join_refresh(
        m0, fact1, dim1,
        fs.diff_versions(fv0, fv1), ds.diff_versions(dv0, dv1),
        fact_key="k", dim_fk="fk", dim_key="dk",
    )
    got = sorted(tuple(r) for r in m1.collect())
    want = sorted(
        tuple(r)
        for r in fact1.join(dim1, fact1["fk"] == dim1["dk"])
        .select("k", "fk", "v", "a")
        .collect()
    )
    assert got == want
    want_rows = {
        (1, 10, 111, "x"),   # updated payload
        (3, 30, 300, "z"),   # fk moved
        (5, 50, 500, "V"),   # dim attr rewrite
        (6, 10, 600, "x"),   # carried forward untouched
        (7, 20, 700, "y"),   # insert
        # k=2 deleted, k=4 gone with its dim row
    }
    assert set(got) == want_rows
