"""WARC source: record-grammar parsing, gzip members, pages adapter,
and end-to-end crawl over a WARC-sourced pages table."""

from __future__ import annotations

import gzip
from pathlib import Path

from distributed_crawl_spark.sources.warc import (
    iter_warc_records,
    read_warc,
    warc_pages,
)

REPO = Path(__file__).resolve().parent.parent


def _record(url: str, body: bytes, warc_type: str = "response",
            status: int = 200, ctype: str = "text/html",
            date: str = "2026-01-02T03:04:05Z") -> bytes:
    http = (
        f"HTTP/1.1 {status} X\r\nContent-Type: {ctype}\r\n\r\n".encode()
        + body
    )
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: {warc_type}\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"Content-Length: {len(http)}\r\n"
        f"\r\n"
    ).encode()
    return head + http + b"\r\n\r\n"


def _warcinfo() -> bytes:
    payload = b"software: test\r\n"
    head = (
        "WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        f"Content-Length: {len(payload)}\r\n\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


BODY_A = b"<html><body><a href='https://w.test/b'>b</a>hello</body></html>"
BODY_B = b"<html><body>leaf page</body></html>"


def test_iter_warc_records_grammar():
    blob = (
        _warcinfo()
        + _record("https://w.test/a", BODY_A)
        + _record("https://w.test/css", b"x", ctype="text/css")
        + _record("https://w.test/b", BODY_B)
    )
    recs = list(iter_warc_records(blob))
    # warcinfo skipped; css record still parsed (filtering is the
    # adapter's job); bodies byte-exact
    assert [r["url"] for r in recs] == [
        "https://w.test/a", "https://w.test/css", "https://w.test/b"
    ]
    assert recs[0]["html"] == BODY_A
    assert recs[0]["status"] == 200
    assert recs[0]["content_type"] == "text/html"
    assert str(recs[0]["warc_ts"]) == "2026-01-02 03:04:05"
    # truncated tail: stops cleanly, keeps complete records
    assert len(list(iter_warc_records(blob + b"WARC/1.0\r\ngarbage"))) == 3


def test_read_warc_gz_members_and_adapter(spark, tmp_path):
    """Multi-member .warc.gz (one gzip member per record — the Common
    Crawl layout) and a plain .warc in the same directory; the adapter
    keeps only 200 text/html rows in PAGES_SCHEMA shape."""
    gz = b"".join(
        gzip.compress(r)
        for r in (
            _warcinfo(),
            _record("https://w.test/a", BODY_A),
            _record("https://w.test/404", b"gone", status=404),
        )
    )
    (tmp_path / "seg-00000.warc.gz").write_bytes(gz)
    (tmp_path / "seg-00001.warc").write_bytes(
        _record("https://w.test/b", BODY_B)
        + _record("https://w.test/css", b"x", ctype="text/css")
    )

    raw = read_warc(spark, str(tmp_path)).orderBy("url")
    rows = raw.collect()
    assert [r.url for r in rows] == [
        "https://w.test/404", "https://w.test/a", "https://w.test/b",
        "https://w.test/css",
    ]
    assert all(r.warc_file for r in rows)

    pages = warc_pages(raw)
    got = {r.url: bytes(r.html) for r in pages.collect()}
    assert got == {"https://w.test/a": BODY_A, "https://w.test/b": BODY_B}
    assert pages.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_crawl_over_warc_pages(spark, tmp_path):
    """End-to-end: WARC segments → pages table → CrawlDriver follows the
    link from /a to /b (link extraction over WARC-sourced html bytes)."""
    from distributed_crawl_spark.config import CrawlConfig
    from distributed_crawl_spark.schema import SEEDS_SCHEMA
    from distributed_crawl_spark.streaming.driver import CrawlDriver

    (tmp_path / "seg.warc.gz").write_bytes(
        gzip.compress(_record("https://w.test/a", BODY_A))
        + gzip.compress(_record("https://w.test/b", BODY_B))
    )
    pages = warc_pages(read_warc(spark, str(tmp_path / "seg.warc.gz")))
    seeds = spark.createDataFrame(
        [{"url": "https://w.test/a", "seq": 0, "unique_id": None}],
        schema=SEEDS_SCHEMA,
    )
    drv = CrawlDriver(
        spark, pages, None,
        CrawlConfig(max_levels=2, max_rounds=3),
        str(tmp_path / "ckpt"),
    )
    drv.run(seeds)
    results = {r.url: r.status_code for r in drv.fetch_log().collect()}
    assert results == {"https://w.test/a": 200, "https://w.test/b": 200}


def _wet_record(url: str, text: str,
                date: str = "2026-01-02T03:04:05Z") -> bytes:
    payload = text.encode()
    head = (
        f"WARC/1.0\r\n"
        f"WARC-Type: conversion\r\n"
        f"WARC-Target-URI: {url}\r\n"
        f"WARC-Date: {date}\r\n"
        f"Content-Length: {len(payload)}\r\n"
        f"\r\n"
    ).encode()
    return head + payload + b"\r\n\r\n"


def test_read_wet(spark, tmp_path):
    """WET conversion records (plain-text payload, no HTTP envelope) →
    the documents-table feed; response records in the same stream are
    ignored by the WET view and vice versa."""
    from distributed_crawl_spark.sources.warc import read_wet

    (tmp_path / "seg.warc.wet.gz").write_bytes(
        gzip.compress(_wet_record("https://w.test/a", "hello text a"))
        + gzip.compress(_record("https://w.test/raw", BODY_A))
        + gzip.compress(_wet_record("https://w.test/b", "b text"))
    )
    rows = read_wet(spark, str(tmp_path)).orderBy("url").collect()
    assert [(r.url, r.text) for r in rows] == [
        ("https://w.test/a", "hello text a"),
        ("https://w.test/b", "b text"),
    ]
    assert str(rows[0].warc_ts) == "2026-01-02 03:04:05"


def test_read_cdx(spark, tmp_path):
    """CDXJ index lines parse fully JVM-side into typed capture rows;
    malformed lines are dropped."""
    import json

    from distributed_crawl_spark.sources.warc import read_cdx

    def line(surt, ts, **kw):
        return f"{surt} {ts} {json.dumps(kw)}"

    (tmp_path / "cdx-00000").write_text(
        "\n".join(
            [
                line("test,w)/a", "20260102030405",
                     url="https://w.test/a", status="200",
                     mime="text/html", digest="ABC",
                     filename="crawl/seg-0.warc.gz",
                     offset="123", length="456"),
                "garbage line without timestamp",
                line("test,w)/b", "20260102030406",
                     url="https://w.test/b", status="404",
                     mime="text/html", digest="DEF",
                     filename="crawl/seg-1.warc.gz",
                     offset="0", length="9"),
            ]
        )
    )
    rows = read_cdx(spark, str(tmp_path / "cdx-00000")).orderBy(
        "surt"
    ).collect()
    assert len(rows) == 2
    a = rows[0]
    assert (a.surt, a.url, a.status, a.warc_offset, a.warc_length) == (
        "test,w)/a", "https://w.test/a", 200, 123, 456
    )
    assert str(a.capture_ts) == "2026-01-02 03:04:05"
    assert rows[1].status == 404


def test_curate_cli_over_wet(spark, tmp_path):
    """Common Crawl text straight into the curation pipeline:
    curate.py --docs-format wet with a minhash near-dup stage — the
    duplicated capture is dropped, string doc_ids flow through every
    id-generic stage, and the output keeps (doc_id, text, source)."""
    import json
    import subprocess
    import sys

    import pandas as pd

    body = ("spark engine rows tables joins shuffles windows caps "
            "gates lanes budgets census digests components ") * 4
    (tmp_path / "seg.warc.wet.gz").write_bytes(
        gzip.compress(_wet_record("https://a.test/x", body))
        + gzip.compress(_wet_record("https://b.test/y", body))  # dup
        + gzip.compress(_wet_record("https://c.test/z",
                                    "entirely different unique words "
                                    "that share nothing with the pair"))
    )
    out = tmp_path / "curated"
    r = subprocess.run(
        [
            sys.executable, "curate.py",
            "--docs", str(tmp_path / "seg.warc.wet.gz"),
            "--docs-format", "wet",
            "--out", str(out),
            "--neardup", "minhash",
            "--cores", "2",
        ],
        capture_output=True, text=True, cwd=REPO, timeout=400,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 3 and report["n_output"] == 2
    df = pd.concat(
        [pd.read_parquet(p) for p in sorted(out.glob("part-*.parquet"))]
    )
    kept = set(df.doc_id)
    # min-string-id canonical pick keeps a.test, drops the b.test dup
    assert kept == {"https://a.test/x", "https://c.test/z"}
    assert set(df.source) == {"a.test", "c.test"}


# ---------------------------------------------------------------------------
# WARC sink: write → read round trip, true-offset CDX, determinism
# ---------------------------------------------------------------------------

def _sink_pages(spark):
    import datetime as dt

    rows = [
        # binary-unsafe body (NULs, 0xFF, CRLFs) — member framing must
        # rely on Content-Length, never on byte scanning
        ("https://w.test/bin", dt.datetime(2026, 1, 2, 3, 4, 5),
         200, "application/octet-stream", b"\xff\x00\r\n\r\nraw\x80"),
        ("https://w.test/a", dt.datetime(2026, 1, 2, 3, 4, 6, 250000),
         200, "text/html", b"<html>alpha</html>"),
        ("https://sub.w.test/b", dt.datetime(2026, 1, 3, 0, 0, 0),
         404, "text/html", b"gone"),
        ("https://q.test/p?x=1&y=2", dt.datetime(2026, 2, 1, 12, 0, 0),
         200, "text/plain", b"plain text body"),
    ]
    return spark.createDataFrame(
        rows, "url string, warc_ts timestamp, status int, "
              "content_type string, html binary")


def test_write_warc_round_trip(spark, tmp_path):
    from distributed_crawl_spark.sinks.warc import write_warc

    pages = _sink_pages(spark)
    out = str(tmp_path / "segs")
    manifest = write_warc(pages, out, n_shards=2).toPandas()
    assert len(manifest) == 4 and manifest["warc_offset"].min() > 0

    got = read_warc(spark, out).drop("warc_file").toPandas()
    want = pages.toPandas()
    for df in (got, want):
        df.sort_values("url", inplace=True, ignore_index=True)
    assert list(got["url"]) == list(want["url"])
    assert list(got["status"]) == list(want["status"])
    assert list(got["content_type"]) == list(want["content_type"])
    assert [bytes(b) for b in got["html"]] == [bytes(b) for b in want["html"]]
    # timestamps round-trip including sub-second precision
    assert list(got["warc_ts"]) == list(want["warc_ts"])


def test_write_warc_random_access_and_cdx(spark, tmp_path):
    import gzip as gz
    import json as js

    from distributed_crawl_spark.sinks.warc import cdx_lines, write_warc
    from distributed_crawl_spark.sources.warc import read_cdx

    pages = _sink_pages(spark)
    out = str(tmp_path / "segs")
    manifest = write_warc(pages, out, n_shards=2)
    mpdf = manifest.toPandas()

    # (offset, length) random access: seek straight to one member,
    # inflate it alone, and get exactly that capture — the property a
    # wayback/selective-refetch planner depends on
    for r in mpdf.itertuples(index=False):
        with open(f"{out}/{r.warc_filename}", "rb") as fh:
            fh.seek(r.warc_offset)
            blob = fh.read(r.warc_length)
        recs = list(iter_warc_records(gz.decompress(blob)))
        assert [x["url"] for x in recs] == [r.url]
        assert recs[0]["status"] == r.status

    # CDXJ lines parse back through read_cdx with every field intact
    cdx_dir = str(tmp_path / "cdx")
    cdx_lines(manifest).sort("line").write.mode("overwrite").text(cdx_dir)
    idx = read_cdx(spark, cdx_dir).toPandas().sort_values(
        "url", ignore_index=True)
    mpdf = mpdf.sort_values("url", ignore_index=True)
    assert list(idx["url"]) == list(mpdf["url"])
    assert list(idx["warc_offset"]) == list(mpdf["warc_offset"])
    assert list(idx["warc_length"]) == list(mpdf["warc_length"])
    assert list(idx["digest"]) == list(mpdf["digest"])
    assert list(idx["status"]) == list(mpdf["status"])
    # SURT keys: reversed host, www/port/scheme/fragment dropped
    by_url = dict(zip(idx["url"], idx["surt"]))
    assert by_url["https://sub.w.test/b"] == "test,w,sub)/b"
    assert by_url["https://q.test/p?x=1&y=2"] == "test,q)/p?x=1&y=2"

    # raw line sanity: "<surt> <14-digit ts> <json>"
    line = spark.read.text(cdx_dir).toPandas()["value"].iloc[0]
    surt, ts14, meta = line.split(" ", 2)
    assert len(ts14) == 14 and ts14.isdigit()
    assert js.loads(meta)["filename"].startswith("part-")


def test_write_warc_deterministic(spark, tmp_path):
    from pathlib import Path

    from distributed_crawl_spark.sinks.warc import write_warc

    pages = _sink_pages(spark)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    write_warc(pages.repartition(5), a, n_shards=2).count()
    write_warc(pages.coalesce(1), b, n_shards=2).count()
    fa = sorted(Path(a).glob("*.warc.gz"))
    fb = sorted(Path(b).glob("*.warc.gz"))
    assert [f.name for f in fa] == [f.name for f in fb] and fa
    for x, y in zip(fa, fb):
        assert x.read_bytes() == y.read_bytes()


def test_crawl_export_warc_full_circle(spark, tmp_path):
    """WARC in → crawl → WARC out: the exported archive holds exactly
    the fetched pages' raw bytes, and its CDX index parses back with
    offsets that really locate each record."""
    import gzip as gz

    import crawl as crawl_cli
    from distributed_crawl_spark.config import CrawlConfig
    from distributed_crawl_spark.schema import SEEDS_SCHEMA
    from distributed_crawl_spark.sources.warc import read_cdx
    from distributed_crawl_spark.streaming.driver import CrawlDriver

    (tmp_path / "seg.warc.gz").write_bytes(
        gzip.compress(_record("https://w.test/a", BODY_A))
        + gzip.compress(_record("https://w.test/b", BODY_B))
        + gzip.compress(_record("https://w.test/unseeded", b"<html>x</html>"))
    )
    pages = warc_pages(read_warc(spark, str(tmp_path / "seg.warc.gz")))
    seeds = spark.createDataFrame(
        [{"url": "https://w.test/a", "seq": 0, "unique_id": None}],
        schema=SEEDS_SCHEMA,
    )
    drv = CrawlDriver(
        spark, pages, None,
        CrawlConfig(max_levels=2, max_rounds=3),
        str(tmp_path / "ckpt"),
    )
    drv.run(seeds)
    out = tmp_path / "export"
    crawl_cli._export(drv, str(out), warc_shards=2)

    # the archive holds the two CRAWLED pages (a + its child b), not the
    # never-reached third record
    arch = read_warc(spark, str(out / "warc")).toPandas()
    assert sorted(arch["url"]) == ["https://w.test/a", "https://w.test/b"]
    by_url = {u: bytes(h) for u, h in zip(arch["url"], arch["html"])}
    assert by_url["https://w.test/a"] == BODY_A
    assert by_url["https://w.test/b"] == BODY_B

    # CDX offsets are live: seek+inflate one member → that url
    idx = read_cdx(spark, str(out / "warc_cdx")).collect()
    assert len(idx) == 2
    for r in idx:
        with open(out / "warc" / r.warc_filename, "rb") as fh:
            fh.seek(r.warc_offset)
            blob = fh.read(r.warc_length)
        assert [x["url"] for x in iter_warc_records(gz.decompress(blob))] == [r.url]

    # --export-wet twin: the extracted TEXT of the same two pages as
    # WET conversion records, ingestible by read_wet
    from distributed_crawl_spark.sources.warc import read_wet

    crawl_cli._export(drv, str(out), wet_shards=2)
    wet = {r.url: r.text for r in read_wet(
        spark, str(out / "wet" / "*.warc.wet.gz")).collect()}
    stored = {r.url: r.text for r in drv.results().select(
        "url", "text").collect()}
    assert wet == stored and set(wet) == {
        "https://w.test/a", "https://w.test/b"}


def test_stream_warc_matches_batch(spark, tmp_path):
    """Streaming WARC ingestion drains to exactly the batch reader's
    rows, one micro-batch per segment file."""
    from distributed_crawl_spark.sources.warc import stream_warc
    from distributed_crawl_spark.streaming.stream import run_available_now

    seg_dir = tmp_path / "drop"
    seg_dir.mkdir()
    (seg_dir / "s1.warc.gz").write_bytes(
        gzip.compress(_record("https://w.test/a", BODY_A))
    )
    (seg_dir / "s2.warc.gz").write_bytes(
        gzip.compress(_record("https://w.test/b", BODY_B))
        + gzip.compress(_record("https://w.test/c", b"<html>c</html>"))
    )
    stream = stream_warc(spark, str(seg_dir), max_files_per_trigger=1)
    assert stream.isStreaming
    run_available_now(stream, str(tmp_path / "ck"), "warc_drain")
    got = spark.sql(
        "SELECT url, status, content_type FROM warc_drain ORDER BY url"
    ).collect()
    want = (
        read_warc(spark, str(seg_dir))
        .select("url", "status", "content_type").sort("url").collect()
    )
    assert got == want and len(got) == 3


def test_cdx_fetch_plan_merges_ranges(spark, tmp_path):
    """Planner picks the latest capture per url and coalesces adjacent
    members of one segment into single byte ranges."""
    import datetime as dt

    from distributed_crawl_spark.sources.warc import cdx_fetch_plan

    t0 = dt.datetime(2026, 1, 1)
    t1 = dt.datetime(2026, 2, 1)
    cdx_rows = [
        # f1: three back-to-back members (100..150..210), then a hole,
        # then one more at 400
        ("u1", t0, "f1", 100, 50),
        ("u2", t0, "f1", 150, 60),
        ("u3", t0, "f1", 210, 40),
        ("u4", t0, "f1", 400, 30),
        # u1 has a LATER capture in f2 — the plan must use that one
        ("u1", t1, "f2", 0, 77),
        # not wanted
        ("u9", t0, "f1", 500, 10),
    ]
    cdx = spark.createDataFrame(
        [(u, ts, "s", None, None, f, o, ln) for (u, ts, f, o, ln) in cdx_rows],
        "url string, capture_ts timestamp, surt string, status int, "
        "digest string, warc_filename string, warc_offset long, "
        "warc_length long",
    )
    wanted = spark.createDataFrame(
        [("u1",), ("u2",), ("u3",), ("u4",)], "url string"
    )
    plan = cdx_fetch_plan(cdx, wanted).collect()
    by_url = {r.url: r for r in plan}
    assert by_url["u1"].warc_filename == "f2"          # latest capture
    assert "u9" not in by_url and len(plan) == 4
    # u2+u3 coalesce into one range [150, 250); u4 is its own range
    assert (by_url["u2"].range_offset, by_url["u2"].range_length) == (150, 100)
    assert by_url["u3"].range_id == by_url["u2"].range_id
    assert (by_url["u4"].range_offset, by_url["u4"].range_length) == (400, 30)
    assert by_url["u4"].range_id != by_url["u2"].range_id
    assert (by_url["u1"].range_offset, by_url["u1"].range_length) == (0, 77)


def test_write_wet_roundtrip(spark, tmp_path):
    """write_wet → read_wet round-trips (url, ts, text) exactly; the
    manifest's member offsets allow random access; output is
    layout-invariant (deterministic lanes + sorted segments)."""
    import gzip

    from distributed_crawl_spark.sinks.warc import write_wet
    from distributed_crawl_spark.sources.warc import (iter_wet_records,
                                                      read_wet)

    docs = spark.createDataFrame(
        [
            (f"https://h{i % 3}.test/d{i}",
             f"text of doc {i}\nwith a second line — é {i}",
             None)
            for i in range(20)
        ],
        "url STRING, text STRING, warc_ts TIMESTAMP",
    )
    out = tmp_path / "wet"
    man = write_wet(docs, str(out), n_shards=4).collect()
    assert len(man) == 20
    back = {
        (r.url, r.text)
        for r in read_wet(spark, f"{out}/*.warc.wet.gz").collect()
    }
    want = {(r.url, r.text) for r in docs.collect()}
    assert back == want
    # random access: read one member by its manifest (offset, length)
    m = sorted(man, key=lambda r: r.url)[0]
    with open(out / m.wet_filename, "rb") as fh:
        fh.seek(m.wet_offset)
        rec = next(iter_wet_records(gzip.decompress(
            fh.read(m.wet_length))))
    assert rec["url"] == m.url
    # determinism under input layout
    man2 = write_wet(docs.repartition(7), str(tmp_path / "wet2"),
                     n_shards=4).collect()
    a = sorted((r.url, r.digest, r.wet_filename, r.wet_offset)
               for r in man)
    b = sorted((r.url, r.digest, r.wet_filename, r.wet_offset)
               for r in man2)
    assert a == b


def test_curate_cli_out_format_wet(spark, tmp_path):
    """curate.py --out-format wet publishes the curated corpus as WET
    segments + manifest; read_wet ingests them back (full circle)."""
    import json
    import subprocess
    import sys

    import pandas as pd

    docs_path = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": [f"https://h{i % 2}.test/d{i}" for i in range(12)],
        "text": [f"doc {i} body text" for i in range(12)],
        "source": [f"h{i % 2}.test" for i in range(12)],
    }).to_parquet(docs_path)
    out = tmp_path / "wet_out"
    r = subprocess.run(
        [
            sys.executable, "curate.py",
            "--docs", str(docs_path), "--out", str(out),
            "--out-format", "wet", "--cores", "4",
        ],
        capture_output=True, text=True, cwd=REPO, timeout=400,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.loads((out / "report.json").read_text())
    assert report["n_output"] == 12
    from distributed_crawl_spark.sources.warc import read_wet

    back = read_wet(spark, f"{out}/*.warc.wet.gz")
    assert {(r0.url, r0.text) for r0 in back.collect()} == {
        (f"https://h{i % 2}.test/d{i}", f"doc {i} body text")
        for i in range(12)
    }
    import duckdb
    n = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{out}/wet_manifest/*.parquet')"
    ).fetchone()[0]
    assert n == 12
