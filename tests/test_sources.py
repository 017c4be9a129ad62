"""Custom Python DataSource, record unwrap, stateful streaming, secrets."""

import json
import os

import pytest
from pyspark.sql import functions as F

from far_finer_airtable_firestore_sync_spark.secrets import (
    Secrets,
    env_provider,
    static_provider,
)
from far_finer_airtable_firestore_sync_spark.sources import record_source


@pytest.fixture()
def page_dir(tmp_path):
    """Three 'pages' of Airtable-shaped records."""
    recs = [
        {"id": f"rec{i}", "createdTime": f"2024-01-{i + 1:02d}T00:00:00Z",
         "fields": {"Name": f"n{i}", "Score": i * 1.5, "Tag": None}}
        for i in range(9)
    ]
    d = tmp_path / "pages"
    d.mkdir()
    for p in range(3):
        with open(d / f"page-{p}.jsonl", "w") as fh:
            for rec in recs[p * 3 : (p + 1) * 3]:
                fh.write(json.dumps(rec) + "\n")
    return str(d)


def test_record_feed_datasource(spark, page_dir):
    assert record_source.register(spark)
    df = (
        spark.read.format("record_feed")
        .option("path", page_dir)
        .option("fields", "Name, Score, Tag")
        .load()
    )
    assert df.columns == ["_record_id", "_created_time", "Name", "Score", "Tag"]
    rows = {r["_record_id"]: r for r in df.collect()}
    assert len(rows) == 9
    assert rows["rec4"]["Name"] == "n4"
    assert rows["rec4"]["Score"] == "6.0"  # strings until the cast stage
    assert rows["rec4"]["Tag"] is None
    # pages are packed by bytes: three tiny pages are one scan task
    assert df.rdd.getNumPartitions() == 1
    # catalog-driven typed projection composes on top
    from far_finer_airtable_firestore_sync_spark.functions.casts import (
        typed_projection,
    )

    typed = typed_projection(
        df.select("Name", "Score"), {"Name": "singleLineText", "Score": "number"}
    )
    assert dict(typed.dtypes)["Score"] == "double"


def test_pack_pages_preserves_order_and_caps_bytes():
    mib = 1024 * 1024
    cap = record_source.MAX_PARTITION_BYTES
    open_cost = record_source.OPEN_COST_IN_BYTES
    assert (cap, open_cost) == (128 * mib, 4 * mib)
    pack = record_source.pack_pages
    # small pages share one partition, in page order
    assert pack([("p0", 10), ("p1", 20), ("p2", 5)]) == [("p0", "p1", "p2")]
    # 60 MiB pages cost 64 MiB each: two fill a partition exactly, a
    # third opens the next one
    sixty = 60 * mib
    assert pack([(f"p{i}", sixty) for i in range(5)]) == [
        ("p0", "p1"), ("p2", "p3"), ("p4",)
    ]
    # a page over the cap sits alone, and its neighbours keep their order
    assert pack([("a", 1), ("big", 200 * mib), ("b", 1), ("c", 1)]) == [
        ("a",), ("big",), ("b", "c")
    ]
    assert pack([("big", 200 * mib)]) == [("big",)]
    assert pack([]) == []


def test_record_feed_packs_pages_in_order(tmp_path):
    """The reader plans packed partitions over the page directory and
    streams each partition's pages in page order; an empty directory
    plans none."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [T.StructField(n, T.StringType()) for n in ("_record_id", "_created_time", "Name")]
    )
    reader = record_source.RecordFeedReader(str(tmp_path), schema)
    assert reader.partitions() == []
    for n in (0, 1, 2, 10):  # page-10 sorts after page-2
        (tmp_path / f"page-{n}.jsonl").write_text(
            json.dumps({"id": f"r{n}", "fields": {"Name": f"n{n}"}}) + "\n"
        )
    parts = reader.partitions()
    assert [[os.path.basename(p) for p in part.paths] for part in parts] == [
        ["page-0.jsonl", "page-1.jsonl", "page-2.jsonl", "page-10.jsonl"]
    ]
    assert [r[0] for r in reader.read(parts[0])] == ["r0", "r1", "r2", "r10"]


def test_unwrap_records(spark):
    df = spark.createDataFrame(
        [("r1", {"Name": "a", "Created": "2024-01-01"})],
        "id string, fields struct<Name:string, Created:string>",
    )
    out = record_source.unwrap_records(df)
    assert out.columns == ["id", "Name", "Created"]
    assert out.collect()[0]["Name"] == "a"
    with pytest.raises(ValueError, match="struct"):
        record_source.unwrap_records(df.select("id"), "id")


def test_stateful_user_profiles(spark, tmp_path):
    from far_finer_airtable_firestore_sync_spark.streaming import stateful, sync

    stream = sync.read_event_stream(spark, "/root/testdata/sf0.001/events.parquet")
    profiles = stateful.user_profiles(stream)
    q = (
        profiles.writeStream.outputMode("update")
        .format("memory")
        .queryName("t_profiles")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["user_id"]: r for r in spark.table("t_profiles").collect()}
    # cross-check against batch aggregation
    from far_finer_airtable_firestore_sync_spark.plans.agg_queries import read_events

    batch = {
        r["user_id"]: r
        for r in read_events(spark, "/root/testdata/sf0.001")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("ts").alias("last_seen"),
        )
        .collect()
    }
    assert set(got) == set(batch)
    for uid, b in batch.items():
        assert got[uid]["n_events"] == b["n_events"]
        assert got[uid]["last_seen"] == b["last_seen"]


def test_secrets_chain(monkeypatch):
    monkeypatch.setenv("FFS_KEY", "from-env")
    s = Secrets([static_provider({"other": "x"}), env_provider()])
    assert s.get_api_key("FFS_KEY") == "from-env"
    assert s.get_api_key("other") == "x"
    with pytest.raises(KeyError):
        s.get_api_key("missing")


def test_connector_to_store_e2e(spark, page_dir, tmp_path):
    """The 'reference user switches to this repo' flow: record-feed
    connector -> typed projection -> pipeline -> document store."""
    from far_finer_airtable_firestore_sync_spark.config import (
        SyncSpecBuilder,
        UpdateType,
    )
    from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore

    record_source.register(spark)
    raw = (
        spark.read.format("record_feed")
        .option("path", page_dir)
        .option("fields", "Name, Score, Tag")
        .load()
        .withColumnRenamed("_created_time", "Created")
        .drop("_record_id")
    )
    spec = (
        SyncSpecBuilder()
        .with_primary_key("Name")
        .with_update_type(UpdateType.UPSERT_CHECKSUM)
        .with_field("Name", "string")
        .with_field("Created", "timestamp")
        .with_field("Score", "double")
        .with_field("Tag", "string")
        .build()
    )
    store = DocumentStore(spark, str(tmp_path / "store"))
    catalog = {"Name": "singleLineText", "Created": "dateTime", "Score": "number"}
    res = SyncPipeline(spec, store, catalog=catalog).run(raw)
    out = {r["Name"]: r.asDict() for r in store.read().collect()}
    assert len(out) == 9
    assert out["n4"]["Score"] == 6.0  # string from the feed -> double
    assert out["n4"]["Created"].year == 2024
    assert res.metrics["sync_out"]["rows"] == 9


def _final_plan_of_noop_write(spark, df) -> tuple[str, str]:
    """Run ``df`` into a ``noop`` sink and return the ``Final Plan``
    tree of that execution's adaptive plan and the formatted node
    details, as the SQL status store recorded them."""
    df.write.format("noop").mode("overwrite").save()
    # the status store is fed by the listener bus; let it catch up
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    runs = spark._jsparkSession.sharedState().statusStore().executionsList()
    plan = runs.apply(runs.size() - 1).physicalPlanDescription()
    assert "isFinalPlan=true" in plan, plan
    tree, details = plan.split("\n\n", 1)
    return tree.split("== Final Plan ==")[1].split("== Initial Plan ==")[0], details


@pytest.mark.parametrize(
    "update_type", ["soft_delete", "upsert_checksum", "upsert_checksum_with_delete"]
)
def test_sync_plan_scans_feed_and_target_once(spark, page_dir, tmp_path, update_type):
    """M3/M4/M5 over the connector against a committed target plan
    exactly one record_feed scan and one target parquet scan. The
    executed plan shuffles each input once on the pk (the dedup
    aggregate, the rank window) and the strategy join reuses both: a
    sort-merge join, no third exchange, no broadcast of the target."""
    import re

    from far_finer_airtable_firestore_sync_spark.config import (
        SyncSpecBuilder,
        UpdateType,
    )
    from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore

    record_source.register(spark)
    raw = (
        spark.read.format("record_feed")
        .option("path", page_dir)
        .option("fields", "Name, Score")
        .load()
        .withColumnRenamed("_created_time", "Created")
        .drop("_record_id")
    )
    spec = (
        SyncSpecBuilder()
        .with_primary_key("Name")
        .with_update_type(UpdateType(update_type))
        .with_field("Name", "string")
        .with_field("Created", "timestamp")
        .with_field("Score", "double")
        .build()
    )
    catalog = {"Name": "singleLineText", "Created": "dateTime", "Score": "number"}
    pipe = SyncPipeline(spec, DocumentStore(spark, str(tmp_path / "store")), catalog)
    pipe.run(raw)
    post = pipe.build_post_state(raw)
    plan = spark._jvm.PythonSQLUtils.explainString(
        post._jdf.queryExecution(), "formatted"
    )
    # the formatted plan details each node once, as "(<id>) <node>"
    assert len(re.findall(r"^\(\d+\) BatchScan record_feed", plan, re.M)) == 1, plan
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1, plan

    final, details = _final_plan_of_noop_write(spark, post)
    exchanges = re.findall(r"\bExchange \((\d+)\)", final)
    assert len(exchanges) == 2, final
    for i in exchanges:
        args = re.search(
            rf"^\({i}\) Exchange\n(?:.+\n)*?Arguments: (.+)$", details, re.M
        ).group(1)
        assert re.match(r"hashpartitioning\(Name#\d+, \d+\)", args), args
    assert "SortMergeJoin" in final, final
    assert "Broadcast" not in final, final


def test_versioned_set_plans_one_gate(spark, page_dir, tmp_path):
    """VERSIONED_SET decides all-or-nothing with a 1-row change gate.
    Its post-state plans the gate once: one classify join, one
    aggregate, one broadcast, cross-joined into the union of the old
    rows and the batch. A gate joined into each branch separately
    differs per branch (the batch's filter is pushed into it), so it
    is computed and broadcast twice and scans the feed three times."""
    import re

    from far_finer_airtable_firestore_sync_spark.config import (
        SyncSpecBuilder,
        UpdateType,
    )
    from far_finer_airtable_firestore_sync_spark.plans.pipeline import SyncPipeline
    from far_finer_airtable_firestore_sync_spark.sources.store import DocumentStore

    record_source.register(spark)
    raw = (
        spark.read.format("record_feed")
        .option("path", page_dir)
        .option("fields", "Name, Score")
        .load()
        .withColumnRenamed("_created_time", "Created")
        .drop("_record_id")
    )
    spec = (
        SyncSpecBuilder()
        .with_primary_key("Name")
        .with_update_type(UpdateType.VERSIONED_SET)
        .with_field("Name", "string")
        .with_field("Created", "timestamp")
        .with_field("Score", "double")
        .build()
    )
    catalog = {"Name": "singleLineText", "Created": "dateTime", "Score": "number"}
    pipe = SyncPipeline(spec, DocumentStore(spark, str(tmp_path / "store")), catalog)
    pipe.run(raw)
    plan = spark._jvm.PythonSQLUtils.explainString(
        pipe.build_post_state(raw)._jdf.queryExecution(), "formatted"
    )

    def nodes(name):
        return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))

    assert nodes("BroadcastExchange") == 1, plan
    assert nodes("BroadcastNestedLoopJoin") == 1, plan
    # the gate's partial and final aggregate
    assert nodes("HashAggregate") == 2, plan
    # the gate's classify join and the batch itself
    assert nodes("BatchScan record_feed") == 2, plan


# ---------------------------------------------------------------------------
# HTTP fetch hook (VERDICT round-1 item 5)
# ---------------------------------------------------------------------------


def _mk_records(lo, hi):
    return [
        {"id": f"rec{i}", "createdTime": f"2024-01-{i + 1:02d}T00:00:00Z",
         "fields": {"Name": f"n{i}", "Score": i * 1.5}}
        for i in range(lo, hi)
    ]


def test_iter_record_pages_fake_fetcher_pagination():
    """Offset-token chain: None -> 'p1' -> 'p2' -> done; fetcher sees
    exactly the tokens the responses handed out."""
    pages = {
        None: {"records": _mk_records(0, 3), "offset": "p1"},
        "p1": {"records": _mk_records(3, 6), "offset": "p2"},
        "p2": {"records": _mk_records(6, 8)},  # no offset -> last page
    }
    seen = []

    def fake(token):
        seen.append(token)
        return pages[token]

    got = [r["id"] for page in record_source.iter_record_pages(fake) for r in page]
    assert got == [f"rec{i}" for i in range(8)]
    assert seen == [None, "p1", "p2"]


def test_iter_record_pages_bounds_runaway_chain():
    with pytest.raises(RuntimeError, match="did not terminate"):
        list(record_source.iter_record_pages(
            lambda tok: {"records": [], "offset": "again"}, max_pages=5
        ))


@pytest.fixture()
def feed_server():
    """Local HTTP server speaking the offset-token paging contract,
    flaky on demand: first `fail_first` hits per path return 503."""
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, urlparse

    state = {"hits": 0, "fail_first": 0, "unauthorized": False}
    pages = {
        None: {"records": _mk_records(0, 3), "offset": "tok-1"},
        "tok-1": {"records": _mk_records(3, 6), "offset": "tok-2"},
        "tok-2": {"records": _mk_records(6, 8)},
    }

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            state["hits"] += 1
            if state["unauthorized"] and self.headers.get("Authorization") != "Bearer k":
                self.send_response(401)
                self.end_headers()
                return
            if state["hits"] <= state["fail_first"]:
                self.send_response(503)
                self.end_headers()
                return
            q = parse_qs(urlparse(self.path).query)
            token = q.get("offset", [None])[0]
            body = json.dumps(pages[token]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):  # quiet
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}/v0/records", state
    srv.shutdown()


def test_http_fetcher_retries_then_succeeds(feed_server):
    url, state = feed_server
    state["fail_first"] = 2  # two 503s, then healthy
    fetcher = record_source.HttpPageFetcher(url, max_retries=3, backoff_s=0.01)
    got = [r["id"] for page in record_source.iter_record_pages(fetcher)
           for r in page]
    assert got == [f"rec{i}" for i in range(8)]
    assert state["hits"] == 5  # 2 failures + 3 pages


def test_http_fetcher_exhausts_retries(feed_server):
    url, state = feed_server
    state["fail_first"] = 99
    fetcher = record_source.HttpPageFetcher(url, max_retries=2, backoff_s=0.01)
    with pytest.raises(RuntimeError, match="after 3 attempts"):
        fetcher(None)
    assert state["hits"] == 3


def test_http_fetcher_client_error_no_retry(feed_server):
    import urllib.error

    url, state = feed_server
    state["unauthorized"] = True
    fetcher = record_source.HttpPageFetcher(url, max_retries=3, backoff_s=0.01)
    with pytest.raises(urllib.error.HTTPError):
        fetcher(None)
    assert state["hits"] == 1  # 401 must not burn the retry budget
    ok = record_source.HttpPageFetcher(
        url, headers={"Authorization": "Bearer k"}, backoff_s=0.01
    )
    assert [r["id"] for r in ok(None)["records"]] == ["rec0", "rec1", "rec2"]


def test_record_feed_datasource_http_mode(spark, feed_server):
    """The connector end-to-end over live HTTP: same schema/unwrap as
    the JSONL path, sequential token walk in one partition."""
    url, _ = feed_server
    assert record_source.register(spark)
    df = (
        spark.read.format("record_feed")
        .option("url", url)
        .option("backoffS", "0.01")
        .option("fields", "Name, Score")
        .load()
    )
    assert df.columns == ["_record_id", "_created_time", "Name", "Score"]
    rows = {r["_record_id"]: r for r in df.collect()}
    assert len(rows) == 8
    assert rows["rec7"]["Score"] == "10.5"
    assert df.rdd.getNumPartitions() == 1


def test_secrets_file_provider(tmp_path, monkeypatch):
    """Manager-shaped file provider: versioned latest, plain values,
    swallow-errors fall-through to env (lib/Secrets.py:38-52 chain)."""
    import json

    from far_finer_airtable_firestore_sync_spark.secrets import file_provider

    doc = {"api_key": {"1": "old", "2": "new"}, "plain": "v"}
    p = tmp_path / "secrets.json"
    p.write_text(json.dumps(doc))
    s = Secrets([file_provider(str(p)), env_provider()])
    assert s.get_api_key("api_key") == "new"       # versions/latest
    assert s.get_api_key("plain") == "v"
    monkeypatch.setenv("ONLY_ENV", "env-val")
    assert s.get_api_key("ONLY_ENV") == "env-val"  # falls through
    assert file_provider(str(p), version="1")("api_key") == "old"
    assert file_provider("/nonexistent.json")("api_key") is None
    with pytest.raises(KeyError):
        s.get_api_key("missing_everywhere")


def test_jsonl_roundtrip_and_quarantine(spark, tmp_path):
    """JSONL sink/source: documents round-trip losslessly, corrupt
    lines land in the quarantine frame (not dropped, not fatal), and
    gzip compression is transparent."""
    from pyspark.sql import types as T

    from far_finer_airtable_firestore_sync_spark.sources.jsonl import (
        read_jsonl,
        write_jsonl,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "docs_jsonl")
    order = write_jsonl(docs, out, compression="gzip")
    assert order == sorted(docs.columns)

    # corrupt shard: 2 broken lines + 1 good line alongside the export
    extra = tmp_path / "docs_jsonl" / "part-extra.json.gz"
    import gzip

    with gzip.open(extra, "wt") as f:
        f.write('{"doc_id": 990001, "lang": "en", "n_chars": 5, '
                '"source": "manual", "text": "hello"}\n')
        f.write('{"doc_id": "not close-braced...\n')
        f.write('totally not json\n')
        f.write('\n')      # blank lines are skipped, not quarantined
        f.write('   \n')

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_chars", T.LongType()),
        T.StructField("source", T.StringType()),
        T.StructField("text", T.StringType()),
    ])
    good, quarantine = read_jsonl(spark, out, schema)
    n_docs = docs.count()
    assert good.count() == n_docs + 1
    assert quarantine.count() == 2
    assert {r["raw_line"] for r in quarantine.collect()} == {
        '{"doc_id": "not close-braced...', "totally not json",
    }
    # lossless round-trip of the original rows (ignore the manual one)
    a = {tuple(r) for r in docs.select(*sorted(docs.columns)).collect()}
    b = {
        tuple(r)
        for r in good.filter("doc_id < 990000")
        .select(*sorted(docs.columns))
        .collect()
    }
    assert a == b


def test_write_jsonl_rejects_unknown_column_order(spark, tmp_path):
    import pytest as _pytest

    from far_finer_airtable_firestore_sync_spark.sources.jsonl import write_jsonl

    df = spark.range(3).selectExpr("id", "id * 2 as v")
    with _pytest.raises(ValueError, match="absent"):
        write_jsonl(df, str(tmp_path / "x"), column_order=["id", "nope"])


@pytest.fixture()
def wide_page_dir(tmp_path):
    """Eleven pages (page-0..page-10): 'page-10' sorts BETWEEN 'page-1'
    and 'page-2' lexicographically — the ordering trap the stream
    reader's offsets must survive."""
    d = tmp_path / "pages11"
    d.mkdir()
    for p in range(11):
        rec = {"id": f"rec{p}", "createdTime": "2024-01-01T00:00:00Z",
               "fields": {"Name": f"n{p}"}}
        with open(d / f"page-{p}.jsonl", "w") as fh:
            fh.write(json.dumps(rec) + "\n")
    return d


def _stream_reader(path):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("_record_id", T.StringType()),
            T.StructField("_created_time", T.StringType()),
            T.StructField("Name", T.StringType()),
        ]
    )
    return record_source.RecordFeedStreamReader(str(path), schema)


def test_stream_reader_numeric_page_order(wide_page_dir):
    """page-10 must sort after page-9, not between page-1 and page-2."""
    r = _stream_reader(wide_page_dir)
    ids = [t[0] for t in _drain(r.read(r.initialOffset())[0])]
    assert ids == [f"rec{i}" for i in range(11)]


def _drain(it):
    return list(it)


def test_stream_reader_late_page_not_skipped(wide_page_dir):
    """Round-5 ADVICE repro: consume page-0..9, THEN page-10 arrives.
    The count-based offset re-emitted page-9 and never read page-10;
    name-boundary offsets must emit exactly page-10's rows next."""
    # start with only pages 0..9 present
    extra = wide_page_dir / "page-10.jsonl"
    hidden = wide_page_dir / "hidden"
    extra.rename(hidden)
    r = _stream_reader(wide_page_dir)
    it, off1 = r.read(r.initialOffset())
    first = [t[0] for t in it]
    assert first == [f"rec{i}" for i in range(10)]
    assert off1["last_page"] == "page-9.jsonl"
    # page-10 lands
    hidden.rename(extra)
    it2, off2 = r.read(off1)
    assert [t[0] for t in it2] == ["rec10"]
    assert off2["last_page"] == "page-10.jsonl"
    # replay of the FIRST committed batch must not see page-10
    replay = [t[0] for t in r.readBetweenOffsets(r.initialOffset(), off1)]
    assert replay == first
    # replay of the second batch is exactly page-10
    assert [t[0] for t in r.readBetweenOffsets(off1, off2)] == ["rec10"]
    # an empty listing tick keeps the boundary stable
    it3, off3 = r.read(off2)
    assert _drain(it3) == []
    assert off3["last_page"] == "page-10.jsonl"


def test_stream_reader_legacy_count_offset(wide_page_dir):
    """Checkpoints written by the old count-based reader (no
    last_page key) still resume: index slicing over the numeric
    sort."""
    r = _stream_reader(wide_page_dir)
    it, off = r.read({"n_pages": 9})
    assert [t[0] for t in it] == ["rec9", "rec10"]
    replay = [t[0] for t in r.readBetweenOffsets({"n_pages": 9},
                                                 {"n_pages": 11})]
    assert replay == ["rec9", "rec10"]


def test_stream_reader_legacy_batch_zero_replay(wide_page_dir):
    """Review finding: replaying the FIRST batch of a legacy
    checkpoint (start has n_pages=0 and no last_page, end is
    count-only) must honor the end bound — not emit every page."""
    r = _stream_reader(wide_page_dir)
    replay = [t[0] for t in r.readBetweenOffsets({"n_pages": 0},
                                                 {"n_pages": 5})]
    assert replay == [f"rec{i}" for i in range(5)]
    # mixed: legacy start, new-style end
    replay2 = [t[0] for t in r.readBetweenOffsets(
        {"n_pages": 2}, {"n_pages": 5, "last_page": "page-4.jsonl"})]
    assert replay2 == ["rec2", "rec3", "rec4"]
