"""End-to-end Common-Crawl chain through the REAL CLIs (VERDICT r4 #8):

    crawl.py  --pages-format warc  --export-wet
      →  curate.py  --docs-format wet  --c4
                    --dedup-exact normalized  --out-format wet

Each piece has its own tests; this one runs the composition as two
actual subprocess invocations and asserts (a) record counts at every
hop and (b) that a clean document's text survives the whole chain
BYTE-IDENTICALLY: html → extractor → WET conversion record → WET
re-ingestion → C4 rewrite (a no-op on a compliant doc) → WET output.
"""

from __future__ import annotations

import gzip
import json
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def _rec(url: str, body: bytes) -> bytes:
    http = (
        f"HTTP/1.1 200 X\r\nContent-Type: text/html\r\n\r\n".encode() + body
    )
    head = (
        f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}\r\n"
        f"WARC-Date: 2026-01-02T03:04:05Z\r\n"
        f"Content-Length: {len(http)}\r\n\r\n"
    ).encode()
    return head + http + b"\r\n\r\n"


# the byte-identity survivor: no links (anchor-text lines would fail the
# C4 line rules and be rewritten away), three clean sentence lines
CLEAN_BODY = (
    b"<html><body>\n"
    b"<p>This is the first clean sentence today.</p>\n"
    b"<p>Here is another fine sentence for you.</p>\n"
    b"<p>A third sentence closes the document nicely.</p>\n"
    b"</body></html>"
)
CLEAN_TEXT = (
    "This is the first clean sentence today.\n"
    "Here is another fine sentence for you.\n"
    "A third sentence closes the document nicely."
)
SEED_BODY = (
    b"<html><body>\n"
    b"<p>The seed page links out to every child.</p>\n"
    b"<p>It also keeps three clean sentences of its own.</p>\n"
    b"<p>That makes the seed survive the line rules.</p>\n"
    b"<a href='https://w.test/b'>b</a>\n"
    b"<a href='https://w.test/c'>c</a>\n"
    b"<a href='https://w.test/d'>d</a>\n"
    b"<a href='https://w.test/e'>e</a>\n"
    b"</body></html>"
)
JUNK_C = b"<html><body>\n<p>Lorem ipsum dolor sit amet filler text here.</p>\n<p>More lorem ipsum padding for this junk page.</p>\n<p>Even more lorem ipsum to be sure.</p>\n</body></html>"
JUNK_D = b"<html><body>\n<p>short</p>\n<p>no punctuation lines</p>\n</body></html>"


def test_warc_crawl_to_wet_curation_chain(spark, tmp_path):
    # --- stage 0: a WARC segment + a seed file --------------------------
    (tmp_path / "in").mkdir()
    (tmp_path / "in" / "seg.warc.gz").write_bytes(
        gzip.compress(_rec("https://w.test/a", SEED_BODY))
        + gzip.compress(_rec("https://w.test/b", CLEAN_BODY))
        + gzip.compress(_rec("https://w.test/c", JUNK_C))
        + gzip.compress(_rec("https://w.test/d", JUNK_D))
        + gzip.compress(_rec("https://w.test/e", CLEAN_BODY))  # dup of b
    )
    seeds = tmp_path / "seeds.txt"
    seeds.write_text("https://w.test/a\n")

    # --- stage 1: crawl the WARC segment, publish WET -------------------
    exp = tmp_path / "export"
    r = subprocess.run(
        [
            sys.executable, "crawl.py",
            "--pages", str(tmp_path / "in"),
            "--pages-format", "warc",
            "--seeds", str(seeds),
            "--checkpoint", str(tmp_path / "ckpt"),
            "--rounds", "4",
            "--export-dir", str(exp),
            "--export-wet", "2",
            "--cores", "4",
        ],
        capture_output=True, text=True, cwd=REPO, timeout=500,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    summary = json.loads((exp / "summary.json").read_text())
    assert summary["total_urls"] == 5  # a + 4 children

    from distributed_crawl_spark.sources.warc import read_wet

    wet = {
        r2.url: r2.text
        for r2 in read_wet(spark, str(exp / "wet" / "*.warc.wet.gz")).collect()
    }
    assert len(wet) == 5
    assert wet["https://w.test/b"] == CLEAN_TEXT  # extractor → WET hop

    # --- stage 2: curate the WET drop back into WET ---------------------
    out = tmp_path / "curated"
    r = subprocess.run(
        [
            sys.executable, "curate.py",
            "--docs", str(exp / "wet" / "*.warc.wet.gz"),
            "--docs-format", "wet",
            "--c4",
            "--dedup-exact", "normalized",
            "--out", str(out),
            "--out-format", "wet",
            "--cores", "4",
        ],
        capture_output=True, text=True, cwd=REPO, timeout=500,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 5

    final = {
        r3.url: r3.text
        for r3 in read_wet(spark, str(out / "*.warc.wet.gz")).collect()
    }
    # c: lorem-ipsum doc rule; d: no line survives; e: exact dup of b
    # (normalized digest) loses keep-first to the smaller url; a: anchor
    # lines rewritten away but 3 clean lines remain -> kept
    assert set(final) == {"https://w.test/a", "https://w.test/b"}
    assert report["n_output"] == 2
    # the headline claim: byte-identical through all five hops
    assert final["https://w.test/b"] == CLEAN_TEXT
