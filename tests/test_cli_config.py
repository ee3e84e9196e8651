"""CLI ↔ config-file precedence (no Spark needed): CrawlConfig defaults <
CLI defaults < config file < explicitly-typed CLI flags; then curate.py's
stages, run in-process through ``curate.main`` on the test session (one
test drives the ``python curate.py`` entry point as a subprocess)."""

from __future__ import annotations

from pathlib import Path

import pytest

import crawl
import curate
from distributed_crawl_spark.config_files import to_crawl_config

REPO = Path(__file__).resolve().parent.parent


def _curate(spark, argv: list[str]) -> int:
    """``curate.main(argv)`` on the active session — without ``--cores``
    it reuses that session and sets no conf — then drop whatever it
    left in the cache so the next test starts clean."""
    try:
        return curate.main(argv)
    finally:
        spark.catalog.clearCache()


def _defaults():
    # mirrors argparse defaults for the flags that map into CrawlConfig
    return {
        "max_levels": 3, "rounds": 10, "host_budget": 64,
        "salt_threshold": 100_000, "retry_attempts": 3, "max_links": 10,
        "no_bloom": False, "seen_filter": "bloom",
    }


def _cli_kw(**over):
    kw = dict(
        max_levels=3, host_budget=64, salt_threshold=100_000,
        retry_attempts=3, max_links=10, max_rounds=10, use_bloom=True,
        seen_filter="bloom",
    )
    kw.update(over)
    return kw


def test_untyped_cli_defaults_do_not_override_file():
    explicit = crawl.explicit_cli_overrides(_cli_kw(), _defaults())
    assert explicit == {}
    cfg = to_crawl_config(
        {"max_levels": 2, "retry_attempts": 5}, defaults=_cli_kw(), **explicit
    )
    assert cfg.max_levels == 2 and cfg.retry_attempts == 5
    # CLI defaults still beat dataclass defaults where the file is silent
    assert cfg.max_rounds == 10 and cfg.host_budget == 64


def test_typed_cli_flags_beat_file():
    cli = _cli_kw(max_levels=5, max_rounds=20, use_bloom=False,
                  seen_filter="cuckoo")
    explicit = crawl.explicit_cli_overrides(cli, _defaults())
    assert explicit == {
        "max_levels": 5, "max_rounds": 20, "use_bloom": False,
        "seen_filter": "cuckoo",
    }
    cfg = to_crawl_config({"max_levels": 2}, defaults=cli, **explicit)
    assert cfg.max_levels == 5 and cfg.max_rounds == 20
    assert cfg.use_bloom is False and cfg.seen_filter == "cuckoo"


def test_spark_section_beats_mapped_keys_but_not_explicit_cli():
    file_cfg = {"max_concurrency": 8, "spark": {"host_budget": 16}}
    cfg = to_crawl_config(file_cfg, defaults=_cli_kw())
    assert cfg.host_budget == 16  # spark section wins over mapped key
    cli = _cli_kw(host_budget=99)
    cfg = to_crawl_config(
        file_cfg, defaults=cli,
        **crawl.explicit_cli_overrides(cli, _defaults()),
    )
    assert cfg.host_budget == 99  # typed CLI flag wins over everything


def test_curate_cli_end_to_end(tmp_path, spark):
    """curate.py: neardup + gopher + pii + split + cap over the sf0.001
    documents table — one output write, report counts consistent."""
    import json

    out = tmp_path / "curated"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--neardup", "minhash",
            "--gopher", "--gopher-stopwords", "a,the,and,is,of,to,in,that,it",
            "--pii",
            "--split", "80,10,10",  # percentage form: normalized by sum
            "--source-cap", "50",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 500
    assert 0 < report["n_output"] <= report["stages"]["keep_gopher"]
    assert report["stages"]["keep_neardup"] <= 500
    # dedup-report histogram rides the neardup stage: sizes >= 2 only
    # (no docs-side singleton row), mass consistent with the drop count
    hist = report["neardup_clusters"]
    assert hist and all(h["cluster_size"] >= 2 for h in hist)
    dropped = 500 - report["stages"]["keep_neardup"]
    assert sum(h["n_docs"] - h["n_clusters"] for h in hist) == dropped

    import duckdb

    con = duckdb.connect()
    df = con.execute(
        f"SELECT * FROM read_parquet('{out}/*.parquet')"
    ).fetchdf()
    assert len(df) == report["n_output"]
    # all three splits must appear — guards the normalization bug where
    # un-normalized percentage weights put every bucket in 'train'
    assert set(df["split"]) == {"train", "val", "test"}
    assert df.groupby("source").size().max() <= 50
    assert not df["text"].str.contains("@").any()  # emails redacted


def test_curate_cli_sample_scrub_report_only(tmp_path, spark):
    """curate.py new stages: seeded sampling (per-source rates), span
    scrub, --report-only (report.json but NO corpus write)."""
    import json

    out = tmp_path / "curated_ro"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--sample", "0.8", "--sample-rates", "src0=0.2",
            "--scrub-spans", "20",
            "--scrub-substrings", "12:4",
            "--report-only",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 500
    assert 0 < report["n_output"] < 500          # sampling dropped some
    assert report["n_output"] == report["stages"]["keep_sample"]
    assert report["n_spans_removed"] >= 0
    # the winnowed-anchor pass scrubs real tokens on this corpus
    assert report["n_substr_removed"] > 0
    assert not list(out.glob("*.parquet"))       # report-only: no corpus


def test_curate_cli_dedup_against_mix_report(tmp_path, spark):
    """curate.py continual-crawl stages: --dedup-against a prior corpus
    (even doc_ids) drops every exact dup from the full table, and
    --mix-report adds a per-(source, split) token census of the output."""
    import json

    import duckdb

    prior = tmp_path / "prior.parquet"
    con = duckdb.connect()
    con.execute(
        "COPY (SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet') "
        f"WHERE doc_id % 2 = 0) TO '{prior}' (FORMAT PARQUET)"
    )
    out = tmp_path / "curated_inc"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--dedup-against", str(prior),
            "--split", "90,5,5",
            "--mix-report",
            "--pack-tokens", "500", "--pack-writers", "4",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 500
    # every even doc is an exact dup of the prior corpus; odd docs may
    # additionally fall to near-dup band hits, never be added back
    assert 0 < report["n_output"] <= 250
    assert report["n_output"] == report["stages"]["keep_prior"]
    mix = report["mix"]
    assert sum(m["n_docs"] for m in mix) == report["n_output"]
    assert {(m["source"], m["split"]) for m in mix} == {
        (m["source"], m["split"]) for m in mix
    } and all(m["n_tokens"] > 0 and m["n_chars"] > 0 for m in mix)
    assert {m["split"] for m in mix} <= {"train", "val", "test"}
    df = con.execute(
        f"SELECT * FROM read_parquet('{out}/*.parquet')"
    ).fetchdf()
    assert len(df) == report["n_output"]
    assert set(df["writer"]) <= {0, 1, 2, 3}
    assert (df["shard_id"] // (1 << 20) == df["writer"]).all()
    assert (df["offset_tokens"] >= 0).all()


def test_curate_cli_dedup_lines_quantile_gate(tmp_path, spark):
    """curate.py adaptive stages: --dedup-lines rewrites text first,
    --quantile-gate keeps each source's upper half (>= half with
    median ties)."""
    import json

    out = tmp_path / "curated_qg"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--dedup-lines", "--quantile-gate", "0.5",
            "--out-format", "jsonl",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 500
    assert report["n_output"] == report["stages"]["keep_quantile"]
    # median gate keeps at least half of every source => at least half overall
    assert 250 <= report["n_output"] < 500
    # jsonl output: gzipped JSON lines, row count matches the report
    import glob
    import gzip

    n_lines = sum(
        1 for f in glob.glob(str(out / "*.json.gz"))
        for _ in gzip.open(f, "rt")
    )
    assert n_lines == report["n_output"]


def test_curate_cli_global_line_dedup_and_lm_gate(tmp_path, spark):
    """curate.py: --dedup-lines-global rewrites texts (exact-dup docs
    lose their lines to the first copy) and --lm-gate drops the
    lowest-fluency tail; both stage counts land in report.json."""
    import json

    import pandas as pd

    out = tmp_path / "curated_gl"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--dedup-lines-global",
            "--lm-gate", "0.1",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 500
    # lm gate keeps ~90%: percentile_approx threshold is inclusive
    assert 350 <= report["stages"]["keep_lm"] < 500
    assert report["n_output"] == report["stages"]["keep_lm"]
    df = pd.concat(
        [pd.read_parquet(p) for p in sorted(out.glob("part-*.parquet"))]
    )
    assert len(df) == report["n_output"]
    # the corpus has exact-dup texts (single-line docs here): after
    # keep-first global line dedup at most one copy keeps its text
    assert (df["text"] == "").any() or df["text"].duplicated().sum() == 0


def test_curate_cli_mix_weights(tmp_path, spark):
    """curate.py --mix-weights: sample rates derived from mix_plan (the
    bottleneck source at 100%), plan recorded in report.json, and the
    realized per-source doc counts follow the planned rates."""
    import json

    out = tmp_path / "curated_mix"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--mix-weights", "src0=5,src1=0",
            "--mix-report", "--report-only",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    plan = {p["source"]: p for p in report["mix_plan"]}
    assert len(plan) == 20                      # every source planned
    assert plan["src1"]["rate_bp"] == 0          # weight 0 -> excluded
    # src0 gets 5x the per-unit tokens of the bottleneck default source
    assert plan["src0"]["rate_bp"] == 10000      # heaviest ask = bottleneck
    assert max(p["rate_bp"] for p in plan.values()) == 10000
    mix = {m["source"]: m["n_docs"] for m in report["mix"]}
    assert "src1" not in mix                     # excluded end-to-end
    assert report["n_output"] == sum(mix.values())


def test_curate_cli_script_and_lang_gates(tmp_path, spark):
    """--keep-script / --keep-lang flag stages wire through: the ASCII
    corpus is all-Latin (script keeps everything) while the word-soup
    texts mostly lack 'en' markers (lang gate drops most)."""
    import json

    out = tmp_path / "curated_script"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--keep-script", "latin",
            "--keep-lang", "en",
            "--report-only",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["stages"]["keep_script"] == 500
    assert report["stages"]["keep_lang"] < 500
    assert report["n_output"] <= report["stages"]["keep_lang"]


def test_curate_cli_write_index_then_probe(tmp_path, spark):
    """Continual-crawl loop via a persisted index: run A curates the
    even-doc prior corpus and writes its dedup index; run B probes the
    full table against that index WITHOUT reading the prior corpus —
    every even doc (exact dup) drops, matching --dedup-against."""
    import json

    import duckdb

    prior = tmp_path / "prior.parquet"
    duckdb.connect().execute(
        "COPY (SELECT * FROM "
        "read_parquet('/root/testdata/sf0.001/documents.parquet') "
        f"WHERE doc_id % 2 = 0) TO '{prior}' (FORMAT PARQUET)"
    )
    out_a, idx = tmp_path / "outA", tmp_path / "index"
    assert _curate(
        spark,
        [
            "--docs", str(prior), "--out", str(out_a),
            "--write-index", str(idx),
        ],
    ) == 0
    rep_a = json.loads((out_a / "report.json").read_text())
    assert rep_a["index_entries"] > 250          # digests + band keys

    out_b = tmp_path / "outB"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out_b),
            "--dedup-against-index", str(idx),
            "--report-only",
        ],
    ) == 0
    rep_b = json.loads((out_b / "report.json").read_text())
    assert rep_b["n_input"] == 500
    assert 0 < rep_b["n_output"] <= 250          # all evens are exact dups
    assert rep_b["n_output"] == rep_b["stages"]["keep_prior"]


def test_curate_cli_semdedup(tmp_path, spark):
    """curate.py --semdedup drops non-canonical members of semantic
    near-identical groups (12 at sf0.001/threshold 0.4); docs without
    an embedding are kept."""
    import json

    out = tmp_path / "curated_sd"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--semdedup", "/root/testdata/sf0.001/embeddings.parquet",
            "--semdedup-threshold", "0.4",
            "--semdedup-cells", "32",
            "--report-only",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 500
    assert report["stages"]["keep_semdedup"] == 488   # 12 semantic dups
    assert report["n_output"] == 488


def test_curate_cli_diff_against(tmp_path, spark):
    """--diff-against: report gains the refresh census — docs the gate
    dropped read as 'removed', survivors as 'same' (no text rewrite
    stages enabled)."""
    import json

    out = tmp_path / "curated_diff"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--sample", "0.8",
            "--diff-against",
            "/root/testdata/sf0.001/documents.parquet",
            "--report-only",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    diff = report["diff"]
    assert diff["same"] == report["n_output"]
    assert diff.get("removed", 0) == 500 - report["n_output"]
    assert "added" not in diff and "changed" not in diff


def test_curate_cli_normalize_nfc(tmp_path, spark):
    """curate.py --normalize-nfc runs FIRST: a decomposed-unicode twin of
    a previously-published (composed) doc collides in the
    --dedup-against digest stage, and the surviving text is NFC."""
    import json
    import unicodedata

    import pandas as pd

    prior = tmp_path / "prior.parquet"
    docs = tmp_path / "docs.parquet"
    pd.DataFrame(
        {"doc_id": [100], "text": ["caf\u00e9 au lait noir et doux"],
         "source": ["a"]}
    ).to_parquet(prior)
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "text": [
                "cafe\u0301 au lait noir et doux",  # decomposed twin
                "totally different words entirely here",
            ],
            "source": ["a", "a"],
        }
    ).to_parquet(docs)
    out = tmp_path / "curated_nfc"
    assert _curate(
        spark,
        [
            "--docs", str(docs), "--out", str(out),
            "--normalize-nfc", "--dedup-against", str(prior),
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 2 and report["n_output"] == 1
    df = pd.concat(
        [pd.read_parquet(p) for p in sorted(out.glob("part-*.parquet"))]
    )
    assert df.doc_id.tolist() == [2]
    assert all(unicodedata.is_normalized("NFC", t) for t in df.text)


def test_curate_cli_jsonl_roundtrip(tmp_path, spark):
    """curate.py round-trips its own jsonl interchange: a corpus exported
    with --out-format jsonl re-enters via --docs-format jsonl."""
    import json

    out1 = tmp_path / "stage1"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out1), "--out-format", "jsonl",
            "--sample", "0.5",
        ],
    ) == 0
    n1 = json.loads((out1 / "report.json").read_text())["n_output"]

    out2 = tmp_path / "stage2"
    assert _curate(
        spark,
        [
            "--docs", str(out1 / "*.json.gz"), "--docs-format", "jsonl",
            "--out", str(out2), "--report-only",
        ],
    ) == 0
    assert json.loads((out2 / "report.json").read_text())["n_input"] == n1


def test_curate_cli_boilerplate(tmp_path, spark):
    """curate.py --boilerplate: host-scoped chrome lines vanish from the
    output texts while per-doc body lines survive."""
    import json

    import pandas as pd

    src = tmp_path / "docs.parquet"
    pd.DataFrame(
        {
            "doc_id": range(6),
            "source": ["a"] * 3 + ["b"] * 3,
            "text": [f"NAV A\nbody a{i}" for i in range(3)]
            + [f"NAV B\nbody b{i}" for i in range(3)],
        }
    ).to_parquet(src)
    out = tmp_path / "curated_bp"
    assert _curate(
        spark,
        [
            "--docs", str(src),
            "--out", str(out),
            "--boilerplate",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 6 and report["n_output"] == 6
    df = pd.concat(
        [pd.read_parquet(p) for p in sorted(out.glob("part-*.parquet"))]
    ).sort_values("doc_id", ignore_index=True)
    assert list(df["text"]) == [
        "body a0", "body a1", "body a2", "body b0", "body b1", "body b2"
    ]


def test_curate_cli_fix_mojibake(tmp_path, spark):
    """curate.py --fix-mojibake repairs double-encoded text before any
    downstream stage (digest dedup sees the clean form)."""
    import json

    import pandas as pd

    src = tmp_path / "docs.parquet"
    pd.DataFrame(
        {
            "doc_id": [1, 2],
            "source": ["a", "a"],
            # doc 1 is clean; doc 2 is the SAME text mangled utf8→cp1252
            "text": ["naïve café body", "naÃ¯ve cafÃ© body"],
        }
    ).to_parquet(src)
    prior = tmp_path / "prior.parquet"
    pd.DataFrame(
        {"doc_id": [99], "source": ["a"], "text": ["naïve café body"]}
    ).to_parquet(prior)
    out = tmp_path / "curated_fix"
    assert _curate(
        spark,
        [
            "--docs", str(src),
            "--out", str(out),
            "--fix-mojibake",
            # prior holds only the CLEAN text: doc 2 survives the digest
            # anti-join unless the repair ran first
            "--dedup-against", str(prior),
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 2 and report["n_output"] == 0


def test_curate_cli_classifier_gate(tmp_path, spark):
    """curate.py --classifier-gate: the model gate's keep count lands in
    report.json and the output matches the stage count."""
    import json

    out = tmp_path / "curated_cg"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--classifier-gate", "0",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 500
    assert report["stages"]["keep_classifier"] == report["n_output"]
    assert 0 < report["n_output"] < 500


def test_curate_cli_blocklist_ccnet(tmp_path, spark):
    """curate.py URL + fluency gates: --blocklist drops docs whose url
    host matches a listed domain (subdomain included), --ccnet-keep
    drops the per-language tail perplexity bucket; stage counts are
    independent, the output is the intersection."""
    import json

    import pandas as pd

    docs_path = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": range(30),
        "url": [
            f"https://www.bad.example/p{i}" if i % 5 == 0
            else f"https://ok{i}.test/clean" for i in range(30)
        ],
        # planted 3-level token frequencies: x-docs head, y middle, z tail
        "text": [
            "x x x" if i % 3 == 0 else ("y y" if i % 3 == 1 else "z")
            for i in range(30)
        ],
        "lang": ["en"] * 30,
        "source": ["s"] * 30,
    }).to_parquet(docs_path)
    bl = tmp_path / "bl.csv"
    bl.write_text("bad.example,adult\n")

    out = tmp_path / "curated_bl"
    assert _curate(
        spark,
        [
            "--docs", str(docs_path), "--out", str(out),
            "--blocklist", str(bl), "--blocklist-url-col", "url",
            "--ccnet-keep", "head,middle", "--ccnet-lang-col", "lang",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["stages"]["keep_blocklist"] == 24   # i%5==0 blocked
    assert report["stages"]["keep_ccnet"] == 20       # tail third dropped
    expect = {i for i in range(30) if i % 5 != 0 and i % 3 != 2}
    import duckdb
    got = {
        r0[0] for r0 in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    }
    assert got == expect


def test_curate_cli_dedup_exact_normalized(tmp_path, spark):
    """curate.py --dedup-exact normalized: trivial case/digit/punct
    variants collapse to one kept doc per class."""
    import json

    import pandas as pd

    base = "alpha beta gamma"
    docs_path = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": range(6),
        "text": [base, base.upper() + "!!!", base + " 12", base + " 34.",
                 "delta", "delta"],
        "source": ["s"] * 6,
    }).to_parquet(docs_path)
    out = tmp_path / "deduped"
    assert _curate(
        spark,
        [
            "--docs", str(docs_path), "--out", str(out),
            "--dedup-exact", "normalized",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["stages"]["keep_exact"] == 3
    import duckdb
    got = {
        r0[0] for r0 in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    }
    assert got == {0, 2, 4}


def test_curate_cli_classifier_train(tmp_path, spark):
    """curate.py --classifier-train POS:NEG trains the hashed linear
    model in-run, gates with it, and --save-classifier round-trips."""
    import json

    import pandas as pd

    good = ["insight", "method", "evidence", "theory", "result"]
    bad = ["spamword", "clickbait", "garbage", "noise", "junk"]
    mk = lambda ws, i, k=12: " ".join(ws[(i + j) % len(ws)]
                                      for j in range(k))
    (tmp_path / "w").mkdir()
    pd.DataFrame({"doc_id": range(40),
                  "text": [mk(good, i) for i in range(40)],
                  "source": ["s"] * 40}).to_parquet(tmp_path / "pos.parquet")
    pd.DataFrame({"doc_id": range(40),
                  "text": [mk(bad, i) for i in range(40)],
                  "source": ["s"] * 40}).to_parquet(tmp_path / "neg.parquet")
    # target corpus: half good-vocab, half bad-vocab
    pd.DataFrame({"doc_id": range(20),
                  "text": [mk(good if i % 2 == 0 else bad, i)
                           for i in range(20)],
                  "source": ["s"] * 20}).to_parquet(tmp_path / "docs.parquet")

    out = tmp_path / "curated_clf"
    assert _curate(
        spark,
        [
            "--docs", str(tmp_path / "docs.parquet"), "--out", str(out),
            "--classifier-gate", "0",
            "--classifier-train",
            f"{tmp_path}/pos.parquet:{tmp_path}/neg.parquet",
            "--save-classifier", str(tmp_path / "w" / "clf"),
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["stages"]["keep_classifier"] == 10   # bad-vocab half out
    import duckdb
    got = {
        r0[0] for r0 in duckdb.sql(
            f"SELECT doc_id FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    }
    assert got == {i for i in range(20) if i % 2 == 0}
    n_w = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/w/clf/*.parquet')"
    ).fetchone()[0]
    assert n_w > 0


def test_curate_cli_c4(tmp_path, spark):
    """curate.py --c4: banner/short lines removed from surviving docs,
    brace/min-lines docs dropped, later stages see the cleaned text."""
    import json

    import pandas as pd

    good = "this line is long enough and it ends properly."
    docs_path = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": range(3),
        "text": [
            "\n".join([good] * 3
                      + ["please enable javascript to continue."]),
            "\n".join([good, good, "call f(x) { now } please ok."]),
            "\n".join([good, good]),          # under min lines
        ],
        "source": ["s"] * 3,
    }).to_parquet(docs_path)
    out = tmp_path / "c4"
    assert _curate(
        spark,
        [
            "--docs", str(docs_path), "--out", str(out),
            "--c4",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["stages"]["keep_c4"] == 1
    import duckdb
    rows = duckdb.sql(
        f"SELECT doc_id, text FROM read_parquet('{out}/*.parquet')"
    ).fetchall()
    assert len(rows) == 1 and rows[0][0] == 0
    assert "javascript" not in rows[0][1]     # banner line scrubbed


def test_curate_cli_watch_mode(tmp_path, spark):
    """curate.py --watch: drains a parquet drop-dir through the
    streaming gate stack into appended parquet; a second invocation
    after more files land processes ONLY the new docs (exactly-once via
    the stream checkpoint)."""
    import duckdb
    import pandas as pd

    drop = tmp_path / "drop"
    drop.mkdir()
    good = "this line is long enough and it ends properly."

    def land(ids, name):
        pd.DataFrame({
            "doc_id": [f"https://h.test/d{i}" for i in ids],
            "text": ["\n".join([good] * 3)] * len(ids),
            "source": ["s"] * len(ids),
        }).to_parquet(drop / name)

    out = tmp_path / "curated_watch"

    def run():
        assert _curate(
            spark,
            [
                "--docs", str(drop), "--out", str(out),
                "--watch", "--c4",
            ],
        ) == 0

    land(range(6), "a.parquet")
    run()
    q = f"SELECT doc_id, lang, quality FROM read_parquet('{out}/*.parquet')"
    first = duckdb.sql(q).fetchall()
    assert len(first) == 6 and all(r[2] is not None for r in first)
    land(range(6, 9), "b.parquet")
    run()
    got = {r[0] for r in duckdb.sql(q).fetchall()}
    assert got == {f"https://h.test/d{i}" for i in range(9)}


def test_curate_cli_watch_wet(spark, tmp_path):
    """--watch --out-format wet: the drained stream publishes WET
    batch segments readable by read_wet."""
    import pandas as pd

    drop = tmp_path / "drop_w"
    drop.mkdir()
    pd.DataFrame({
        "doc_id": [f"https://h.test/d{i}" for i in range(5)],
        "text": [f"body {i}" for i in range(5)],
        "source": ["s"] * 5,
    }).to_parquet(drop / "a.parquet")
    out = tmp_path / "wet_watch"
    assert _curate(
        spark,
        [
            "--docs", str(drop), "--out", str(out),
            "--watch", "--out-format", "wet",
        ],
    ) == 0
    import duckdb

    from distributed_crawl_spark.sources.warc import read_wet

    got = {
        (r0.url, r0.text)
        for r0 in read_wet(spark, f"{out}/batch-*/*.warc.wet.gz").collect()
    }
    assert got == {(f"https://h.test/d{i}", f"body {i}") for i in range(5)}
    n = duckdb.sql(
        f"SELECT count(*) FROM "
        f"read_parquet('{out}/batch-*/manifest/*.parquet')"
    ).fetchone()[0]
    assert n == 5


def test_curate_cli_bpe_train(tmp_path, spark):
    """curate.py --bpe-train: merges learned on the post-gate corpus
    land in report.json + --save-merges parquet, and the output gains
    an exact n_bpe_tokens column."""
    import json

    import duckdb
    import pandas as pd

    docs_path = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": range(12),
        "text": ["low lower lowest newest newest wider"] * 12,
        "source": ["s"] * 12,
    }).to_parquet(docs_path)
    out = tmp_path / "bpe_out"
    assert _curate(
        spark,
        [
            "--docs", str(docs_path), "--out", str(out),
            "--bpe-train", "6", "--save-merges", str(tmp_path / "merges"),
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert len(report["bpe_merges"]) == 6
    rows = duckdb.sql(
        f"SELECT doc_id, n_bpe_tokens FROM read_parquet('{out}/*.parquet')"
    ).fetchall()
    assert len(rows) == 12
    # 6 words/doc, every word ends with the </w> symbol; merges compress
    # below the raw character count but never below one token per word
    assert all(6 <= r0[1] < 40 for r0 in rows)
    m = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{tmp_path}/merges/*.parquet')"
    ).fetchone()[0]
    assert m == 6


def test_curate_cli_chunk_output(tmp_path, spark, capsys):
    """curate.py --chunk: gates compose upstream, the output rows ARE
    chunks (id, chunk_idx, n_tokens, chunk), chunk token counts respect
    the window, and document-shaped stages are rejected loudly."""
    import json

    out = tmp_path / "chunks"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--gopher", "--gopher-stopwords", "a,the,and,is,of,to,in,that,it",
            "--chunk", "32:24",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())

    import duckdb

    con = duckdb.connect()
    df = con.execute(
        f"SELECT * FROM read_parquet('{out}/*.parquet')"
    ).fetchdf()
    assert sorted(df.columns) == ["chunk", "chunk_idx", "doc_id", "n_tokens"]
    assert len(df) == report["n_output"] > report["stages"]["keep_gopher"] / 2
    assert df["n_tokens"].max() <= 32
    assert (df["chunk"].str.split().str.len() == df["n_tokens"]).all()
    # every surviving doc contributes a chunk 0
    assert (df[df["chunk_idx"] == 0].shape[0]
            == df["doc_id"].nunique() == report["stages"]["keep_gopher"])

    # document-shaped stages are rejected
    capsys.readouterr()
    with pytest.raises(SystemExit) as exc:
        _curate(spark, [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(tmp_path / "bad"),
            "--chunk", "32", "--pack-tokens", "2048",
        ])
    assert exc.value.code != 0 and "--pack-tokens" in capsys.readouterr().err


def test_curate_cli_lang_mix_report(tmp_path, spark):
    """--lang-mix-report: per-source language-mix stats land in
    report.json; with --ccnet-lang-col the table's OWN lang column is
    censused (exact counts, no lang_id prediction)."""
    import json

    out = tmp_path / "curated_lm"
    assert _curate(
        spark,
        [
            "--docs", "/root/testdata/sf0.001/documents.parquet",
            "--out", str(out),
            "--lang-mix-report", "--ccnet-lang-col", "lang",
            "--report-only",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    lm = report["lang_mix"]
    assert [x["host"] for x in lm] == sorted({x["host"] for x in lm})
    assert sum(x["n_docs"] for x in lm) == report["n_output"] == 500
    for x in lm:
        assert 0 < x["top_share_bp"] <= 10000
        assert (x["lang_entropy_micro"] == 0) == (x["n_langs"] == 1)


def test_curate_cli_drop_contained(tmp_path, spark):
    """--drop-contained: one-way quotes are dropped, their source pages
    survive, mutual (exact-dup) pairs keep the min id."""
    import json

    import duckdb

    src = tmp_path / "docs.parquet"
    rows = []
    for i in range(10):  # pages with per-doc vocab
        text = " ".join(f"d{i}w{j}" for j in range(80))
        rows.append((i, text))
    for i in range(5):   # 12-token quotes of pages 0..4
        rows.append((100 + i, " ".join(f"d{i}w{j}" for j in range(12))))
    dup = " ".join(f"mw{j}" for j in range(40))
    rows += [(200, dup), (201, dup)]  # mutual pair
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE d (doc_id BIGINT, text VARCHAR, lang VARCHAR,"
        " source VARCHAR, n_chars BIGINT)"
    )
    con.executemany(
        "INSERT INTO d VALUES (?, ?, 'en', 'src0', length(?))",
        [(i, t, t) for i, t in rows],
    )
    con.execute(f"COPY d TO '{src}' (FORMAT PARQUET)")

    out = tmp_path / "curated"
    assert _curate(
        spark,
        [
            "--docs", str(src),
            "--out", str(out),
            "--drop-contained", "0.8",
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["n_input"] == 17
    assert report["stages"]["keep_contained"] == 11  # -5 quotes, -1 dup

    kept = {
        row[0]
        for row in con.execute(
            f"SELECT doc_id FROM read_parquet('{out}/*.parquet')"
        ).fetchall()
    }
    assert kept == set(range(10)) | {200}


def test_curate_cli_drop_soft404(tmp_path):
    """curate.py --drop-soft404: short error-phrase pages dropped, a
    long page containing a phrase kept, clean pages kept. Runs the
    ``python curate.py`` entry point as a subprocess."""
    import json
    import subprocess
    import sys

    import pandas as pd

    long_with_phrase = " ".join(["word"] * 100) + " page not found"
    docs_path = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": range(4),
        "text": [
            "Error 404 not found. The page does not exist.",
            "This item is no longer available.",
            long_with_phrase,
            "An ordinary page about crawling the web.",
        ],
        "source": ["s"] * 4,
    }).to_parquet(docs_path)
    out = tmp_path / "s404"
    r = subprocess.run(
        [
            sys.executable, "curate.py",
            "--docs", str(docs_path), "--out", str(out),
            "--drop-soft404", "--cores", "4",
        ],
        capture_output=True, text=True, cwd=REPO, timeout=400,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    report = json.loads((out / "report.json").read_text())
    assert report["stages"]["keep_soft404"] == 2
    import duckdb
    kept = sorted(x[0] for x in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{out}/*.parquet')"
    ).fetchall())
    assert kept == [2, 3]


def test_curate_cli_drop_templates(tmp_path, spark):
    """curate.py --drop-templates: docs matching a learned error-template
    digest table are dropped at ingest; everything else passes."""
    import hashlib
    import json

    import pandas as pd

    template = "Error 404 not found. The page you requested does not exist."
    docs_path = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": range(4),
        "text": [template, template,
                 "A real page about web crawling and parquet.",
                 "Another genuine document with enough words."],
        "source": ["s"] * 4,
    }).to_parquet(docs_path)
    learned = tmp_path / "templates.parquet"
    pd.DataFrame({
        "host": ["a.test"],
        "template_digest": [hashlib.md5(template.encode()).hexdigest()],
    }).to_parquet(learned)
    out = tmp_path / "tdrop"
    assert _curate(
        spark,
        [
            "--docs", str(docs_path), "--out", str(out),
            "--drop-templates", str(learned),
        ],
    ) == 0
    report = json.loads((out / "report.json").read_text())
    assert report["stages"]["keep_template"] == 2
    import duckdb
    kept = sorted(x[0] for x in duckdb.sql(
        f"SELECT doc_id FROM read_parquet('{out}/*.parquet')"
    ).fetchall())
    assert kept == [2, 3]


def test_curate_cli_split_clusters(tmp_path, spark):
    """curate.py --split --split-clusters: a near-dup pair whose ids a
    plain hash split would separate (doc 0 -> train, doc 4 -> test)
    lands on ONE side because the component id hashes instead."""
    import pandas as pd

    twin = ("the quick brown fox jumps over the lazy dog again and "
            "again every single day without fail")
    texts = []
    for i in range(8):
        if i == 0 or i == 4:
            texts.append(twin)  # byte-identical twins: hamming 0
        else:
            texts.append(f"document {i} talks about topic {i} "
                         f"in its own distinct words number {i}")
    docs_path = tmp_path / "docs.parquet"
    pd.DataFrame({
        "doc_id": range(8), "text": texts, "source": ["s"] * 8,
    }).to_parquet(docs_path)
    out = tmp_path / "cs"
    assert _curate(
        spark,
        [
            "--docs", str(docs_path), "--out", str(out),
            "--split", "0.9,0.05,0.05", "--split-clusters",
        ],
    ) == 0
    import duckdb
    rows = dict(duckdb.sql(
        f"SELECT doc_id, split FROM read_parquet('{out}/*.parquet')"
    ).fetchall())
    assert len(rows) == 8
    # the twins agree (plain corpus_split would say train vs test)
    assert rows[0] == rows[4] == "train"
