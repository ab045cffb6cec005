"""End-to-end spark-submit --py-files drive (north rule: 'runs via
spark-submit --py-files on multi-executor clusters').

A REAL spark-submit subprocess — not a SparkSession in this pytest JVM —
packages the library with tools/make_pyfiles.py, builds a pointer-committed
index from a parquet pages table through tools/index_job.py, then queries
it with the auto-routed front-end in a second spark-submit. Executors
import similaripy_spark from the shipped zip only (cwd is a scratch dir, no
PYTHONPATH), which is exactly the cluster deployment mode.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str | None:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else shutil.which("spark-submit")


@pytest.mark.slow
def test_spark_submit_build_then_query(spark, tmp_path):
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit binary available")

    from similaripy_spark.sources.pages import (
        generate_pages,
        generate_queries_pandas,
    )

    pages_p = str(tmp_path / "pages")
    queries_p = str(tmp_path / "queries")
    index_p = str(tmp_path / "index")
    out_p = str(tmp_path / "results")
    generate_pages(spark, 300, vocab_size=400).write.parquet(pages_p)
    spark.createDataFrame(
        generate_queries_pandas(25, vocab_size=400)
    ).write.parquet(queries_p)

    # package the library the way a cluster deployment would
    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    assert zip_path.endswith(".zip") and os.path.exists(zip_path)

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    base = [
        submit, "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "tools", "index_job.py"),
    ]

    r = subprocess.run(
        base + ["build", "--pages", pages_p, "--index", index_p,
                "--groups", "2", "--commit", "pointer", "--positions",
                "--docvalues", "lang",
                "--docvalues-numeric", "warc_ts"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    built = json.loads(r.stdout.strip().splitlines()[-1])
    assert built["n_docs"] == 300 and built["positions"] is True
    assert built["docvalues"] == ["lang", "warc_ts"]
    # the default build writes the one index format (append-capable)
    from similaripy_spark.fulltext.index_build import read_meta

    assert read_meta(index_p)["weight_scheme"] == "raw"
    # pointer backend really used: segments/ holds pointer objects
    assert any(
        f.endswith(".ptr.json")
        for f in os.listdir(os.path.join(index_p, "segments"))
    )

    r = subprocess.run(
        base + ["query", "--index", index_p, "--queries", queries_p,
                "--out", out_p, "--k", "10"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = spark.read.parquet(out_p)
    assert got.count() == 250  # 25 queries x k=10
    assert {"query_id", "doc_id", "score", "rank"} <= set(got.columns)

    # phrase leg: first two tokens of selected docs, served from the
    # positional sidecar built by --positions (no pages relation passed)
    from pyspark.sql import functions as F

    phrase_p = str(tmp_path / "phrase_queries")
    toks = F.filter(
        F.split(F.lower("text"), "[^a-z0-9]+"), lambda t: t != ""
    )
    (
        spark.read.parquet(pages_p)
        .filter(F.col("doc_id") % 60 == 0)
        .select(F.col("doc_id").alias("query_id"),
                F.slice(toks, 1, 2).alias("terms"))
        .filter(F.size("terms") >= 2)
        .write.parquet(phrase_p)
    )
    out2_p = str(tmp_path / "phrase_results")
    r = subprocess.run(
        base + ["query", "--index", index_p, "--queries", phrase_p,
                "--out", out2_p, "--k", "5", "--phrase"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    ph = spark.read.parquet(out2_p)
    assert ph.count() > 0
    # every query's own source doc must be a phrase match for its prefix
    qids = {row["query_id"] for row in ph.collect()}
    assert all(
        row["query_id"] in qids
        for row in spark.read.parquet(phrase_p).collect()
    )

    # filtered-query leg: doc-values IN-list filter built by --docvalues;
    # every returned doc must carry the filtered attribute
    out_f_p = str(tmp_path / "filtered_results")
    r = subprocess.run(
        base + ["query", "--index", index_p, "--queries", queries_p,
                "--out", out_f_p, "--k", "10", "--filter", "lang=xx"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    xx_ids = {
        row["doc_id"]
        for row in spark.read.parquet(pages_p)
        .filter("lang = 'xx'").select("doc_id").collect()
    }
    fil = spark.read.parquet(out_f_p).collect()
    assert fil and all(row["doc_id"] in xx_ids for row in fil)

    # facets leg: per-query lang counts through the CLI
    out_fc_p = str(tmp_path / "facet_results")
    r = subprocess.run(
        base + ["facets", "--index", index_p, "--queries", queries_p,
                "--field", "lang", "--out", out_fc_p],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    fc = spark.read.parquet(out_fc_p)
    assert fc.count() > 0
    assert {"query_id", "value", "n_docs"} == set(fc.columns)

    # search leg: query-string grammar through the CLI (phrase + filter,
    # served by the positional sidecar + docvalues built above)
    first_two = (
        spark.read.parquet(pages_p)
        .filter("doc_id = 0")
        .select(F.slice(toks, 1, 2).alias("t"))
        .first()["t"]
    )
    out_s_p = str(tmp_path / "search_results")
    r = subprocess.run(
        base + ["search", "--index", index_p,
                "--q", f'"{first_two[0]} {first_two[1]}" lang:en,xx',
                "--out", out_s_p, "--k", "300"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    sr = spark.read.parquet(out_s_p)
    assert sr.count() > 0
    # k covers the corpus, so the phrase's own source doc must appear
    assert 0 in {row["doc_id"] for row in sr.collect()}

    # numeric stats + sort legs (docvalues-numeric warc_ts built above)
    out_st_p = str(tmp_path / "stats_results")
    r = subprocess.run(
        base + ["facets", "--index", index_p, "--queries", queries_p,
                "--field", "warc_ts", "--out", out_st_p, "--stats"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    st = spark.read.parquet(out_st_p)
    assert st.count() > 0
    assert {"query_id", "n_docs", "vmin", "vmax", "vsum", "vavg"} <= set(
        st.columns
    )
    out_so_p = str(tmp_path / "sort_results")
    r = subprocess.run(
        base + ["sort", "--index", index_p, "--queries", queries_p,
                "--field", "warc_ts", "--out", out_so_p, "--k", "5"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    so = spark.read.parquet(out_so_p)
    assert so.count() > 0
    assert {"query_id", "doc_id", "value", "rank"} == set(so.columns)

    # mlt leg: seed docs as queries through the CLI (comma-list seeds)
    out3_p = str(tmp_path / "mlt_results")
    r = subprocess.run(
        base + ["mlt", "--index", index_p, "--pages", pages_p,
                "--seeds", "0,60,120", "--out", out3_p, "--k", "5",
                "--max-terms", "8"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    mlt = spark.read.parquet(out3_p)
    assert mlt.count() == 15  # 3 seeds x k=5
    assert mlt.filter("doc_id = query_id").count() == 0


@pytest.mark.slow
def test_spark_submit_append_with_sidecars(spark, tmp_path):
    """CLI append: raw-scheme base build with both sidecars, then ONE
    `append` invocation ingests the delta AND catches both sidecars up;
    a filtered query over the appended index returns docs from BOTH
    epochs, none violating the filter."""
    submit = _spark_submit()
    if submit is None:
        pytest.skip("no spark-submit binary available")

    from pyspark.sql import functions as F

    from similaripy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 512, vocab_size=300, partitions=4)
    base_p, delta_p = str(tmp_path / "base"), str(tmp_path / "delta")
    pages.filter(F.col("doc_id") < 256).write.parquet(base_p)
    pages.filter(F.col("doc_id") >= 256).write.parquet(delta_p)
    queries_p = str(tmp_path / "queries")
    pages.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.split("text", " ").alias("terms"),
    ).write.parquet(queries_p)
    index_p = str(tmp_path / "index")
    out_p = str(tmp_path / "results")

    zip_path = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "make_pyfiles.py")],
        capture_output=True, text=True, check=True,
    ).stdout.strip()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    base = [
        submit, "--master", "local[4]",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--conf", "spark.ui.enabled=false",
        "--py-files", zip_path,
        os.path.join(REPO, "tools", "index_job.py"),
    ]
    r = subprocess.run(
        base + ["build", "--pages", base_p, "--index", index_p,
                "--groups", "2", "--shard-size", "256", "--positions",
                "--docvalues", "lang"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    r = subprocess.run(
        base + ["append", "--index", index_p, "--pages", delta_p,
                "--positions", "--docvalues"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    appended = json.loads(r.stdout.strip().splitlines()[-1])
    assert appended["n_docs"] == 512 and appended["n_epochs"] == 2
    r = subprocess.run(
        base + ["query", "--index", index_p, "--queries", queries_p,
                "--out", out_p, "--k", "20", "--filter", "lang=en"],
        capture_output=True, text=True, env=env, cwd=str(tmp_path),
        timeout=600,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    got = spark.read.parquet(out_p).collect()
    en = {
        row["doc_id"]
        for row in pages.filter("lang = 'en'").select("doc_id").collect()
    }
    assert got and all(row["doc_id"] in en for row in got)
    assert any(row["doc_id"] >= 256 for row in got)  # appended epoch served
