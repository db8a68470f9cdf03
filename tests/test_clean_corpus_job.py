"""Webtext cleaning production job surface: jobs/clean_corpus.py —
quality + repetition gates, exact + near-dup dedup, token packing, with
stage-manifest resume and per-stage row accounting."""

import glob
import json
import os
import shutil

from tests._jobrunner import run_code, run_job

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DOCS = "/root/testdata/sf0.01/documents.parquet"


def _run(work, out, extra=()):
    proc = run_job(
        "clean_corpus.py",
        ["--docs-parquet", DOCS, "--work-dir", work, "--out-dir", out,
         "--cores", "8", *extra],
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_clean_corpus_runs_resumes_and_accounts(spark, tmp_path):
    work, out = str(tmp_path / "w"), str(tmp_path / "o")
    r1 = _run(work, out)
    s = r1["stages"]
    assert s["input"]["rows"] == 500
    # monotone row accounting: every stage only drops
    assert (
        s["input"]["rows"]
        >= s["quality"]["rows"]
        >= s["exact"]["rows"]
        >= s["neardup"]["rows"]
        == s["pack"]["rows"]
    )
    assert s["quality"]["rows"] == 290  # matches the pipeline_clean oracle
    assert 0 < r1["kept_frac"] <= 1 and s["pack"]["batches"] >= 1

    # reliable-checkpoint mode is the job default: the dedup stages'
    # lineage truncation wrote DURABLE files under --work-dir (the
    # localCheckpoint blocks a lost executor can't recompute are only
    # the fallback when no dir is configured)
    assert glob.glob(f"{work}/checkpoints/*/rdd-*/part-*"), (
        "clean_corpus ran without reliable checkpoint files in the work dir"
    )

    # cleaned corpus: unique doc ids, packing columns present
    cleaned = spark.read.parquet(f"{out}/cleaned")
    assert cleaned.count() == s["pack"]["rows"]
    assert cleaned.select("doc_id").distinct().count() == s["pack"]["rows"]
    assert {"shard", "batch_id", "ws_tokens"} <= set(cleaned.columns)
    assert os.path.exists(f"{out}/lineage")

    # second run: all manifest hits
    r2 = _run(work, out)
    assert all(
        r2["stages"][st]["cached"] is True
        for st in ("quality", "exact", "neardup", "pack")
    ), r2

    # a threshold change invalidates the affected stages and recomputes
    r3 = _run(work, out, extra=("--min-words", "25"))
    assert r3["stages"]["quality"]["cached"] is False
    assert r3["stages"]["quality"]["rows"] < s["quality"]["rows"]

    # Gopher repetition gates active: row accounting shows their drops
    # (thresholds match the pipeline_gopher oracle: 217 of the 290
    # quality-passing docs survive), and the changed thresholds key a
    # fresh stage fingerprint rather than serving the cached 290
    r4 = _run(
        work,
        out,
        extra=(
            "--max-top-word-frac", "0.2",
            "--max-dup-word-frac", "0.65",
            "--max-top-bigram-frac", "0.08",
        ),
    )
    assert r4["stages"]["quality"]["cached"] is False
    assert r4["stages"]["quality"]["rows"] == 217


def test_clean_corpus_from_pages_table(spark, tmp_path):
    """Crawl-table mode: the cleaning pipeline reads a snapshot-pinned
    Iceberg-lite pages scan (url as doc id); an append invalidates the
    stage fingerprints (new snapshot), an unchanged table resumes."""
    from timezone_boundary_builder_spark.sources import pages as pt
    from timezone_boundary_builder_spark.sources.fixtures import synthetic_pages

    root = str(tmp_path / "tbl")
    pdf = synthetic_pages(n=200, seed=31).drop(columns=["kind"])
    pt.commit_append(root, spark.createDataFrame(pdf))
    work, out = str(tmp_path / "w"), str(tmp_path / "o")

    def run():
        proc = run_job(
            "clean_corpus.py",
            ["--pages-root", root, "--work-dir", work, "--out-dir", out,
             "--cores", "8", "--min-words", "5",
             "--min-stopword-ratio", "0.0"],
            timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    r1 = run()
    assert r1["stages"]["input"]["rows"] == 200
    cleaned = spark.read.parquet(f"{out}/cleaned")
    ids = [r.doc_id for r in cleaned.select("doc_id").collect()]
    assert ids and all(isinstance(i, str) and "://" in i for i in ids)
    # unchanged table -> resume; append -> new snapshot -> recompute
    r2 = run()
    assert r2["stages"]["quality"]["cached"] is True
    more = synthetic_pages(n=50, seed=32).drop(columns=["kind"])
    more["url"] = more["url"].str.replace("example.org", "more.net")
    pt.commit_append(root, spark.createDataFrame(more))
    r3 = run()
    assert r3["stages"]["input"]["rows"] == 250
    assert r3["stages"]["quality"]["cached"] is False


def test_clean_corpus_hygiene_stages(spark, tmp_path):
    """--redact-pii / --decontaminate-parquet / --mix-rates: PII totals
    reported, contaminated docs dropped, mixture keeps only whitelisted
    langs, row accounting stays monotone, and a second run is all
    manifest hits."""
    import pandas as pd

    # benchmark = the raw text of a few corpus docs -> those docs (and
    # any doc sharing an 8-gram with them) must vanish in the decon stage
    bench_dir = str(tmp_path / "bench")
    docs = pd.read_parquet(DOCS)
    docs.head(5)[["text"]].to_parquet(bench_dir, index=False)

    work, out = str(tmp_path / "w"), str(tmp_path / "o")
    langs = sorted(docs["lang"].unique())
    rates = json.dumps({langs[0]: 1.0, langs[1]: 0.5})
    extra = (
        "--redact-pii",
        "--decontaminate-parquet", bench_dir,
        "--mix-rates", rates,
        "--mix-col", "lang",
    )
    r1 = _run(work, out, extra)
    s = r1["stages"]
    # pii counters present (the synthetic corpus has no PII -> zeros are
    # fine; the key is the stage ran and reported)
    assert {"emails", "ips", "phones"} <= set(s["pii"])
    assert (
        s["neardup"]["rows"] >= s["decon"]["rows"] >= s["mix"]["rows"]
        == s["pack"]["rows"]
    )
    # decon really dropped something: the benchmark docs themselves are
    # in the corpus (unless quality/dedup already removed every one of
    # them, which this corpus does not do)
    assert s["decon"]["rows"] < s["neardup"]["rows"]
    # the mixed output contains only whitelisted langs
    cleaned = spark.read.parquet(f"{out}/cleaned")
    kept_langs = {r.lang for r in cleaned.select("lang").distinct().collect()}
    assert kept_langs <= {langs[0], langs[1]}

    r2 = _run(work, out, extra)
    assert all(
        st.get("cached") for name, st in r2["stages"].items()
        if name not in ("input", "pii")
    )
    assert r2["stages"]["pack"]["rows"] == s["pack"]["rows"]


def _publish_id(out, d):
    return json.load(open(os.path.join(out, d, "_publish.json")))["publish_id"]


def _data_files(path):
    """(name, inode) of every data file: a rename keeps the inode, a
    rewrite or a copy does not."""
    return sorted(
        (f, os.stat(os.path.join(path, f)).st_ino)
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def test_clean_corpus_replay_publishes_without_rewriting(tmp_path):
    """The packed rows are staged, verified and renamed into
    <out>/cleaned: a second run into the same --out-dir is a manifest hit
    on them that re-publishes (lineage and a fresh publish marker on
    both directories) without rewriting a data file."""
    work, out = str(tmp_path / "w"), str(tmp_path / "o")
    r1 = _run(work, out)
    cleaned = os.path.join(out, "cleaned")
    files = _data_files(cleaned)
    assert files and not os.path.exists(os.path.join(work, "pack"))
    first = _publish_id(out, "cleaned")
    assert _publish_id(out, "lineage") == first
    marker = json.load(open(os.path.join(cleaned, "_publish.json")))
    assert marker["snapshot"].startswith(DOCS + "|")

    r2 = _run(work, out)
    assert r2["stages"]["pack"] == {**r1["stages"]["pack"], "cached": True}
    assert _data_files(cleaned) == files
    assert _publish_id(out, "cleaned") == _publish_id(out, "lineage") != first


def test_clean_corpus_promotes_a_staged_pack_after_a_crash(tmp_path):
    """Resume after a crash between the stage write and the promote (the
    packed rows under --work-dir, nothing published): the re-run promotes
    the stage without recomputing it."""
    work, out = str(tmp_path / "w"), str(tmp_path / "o")
    r1 = _run(work, out)
    cleaned = os.path.join(out, "cleaned")
    files = _data_files(cleaned)

    # rewind to a crash right after the stage write
    staged = os.path.join(work, "pack")
    os.rename(cleaned, staged)
    shutil.rmtree(os.path.join(out, "lineage"))
    mpath = os.path.join(work, "_manifest.json")
    m = json.load(open(mpath))
    m["pack"]["output_path"] = staged
    json.dump(m, open(mpath, "w"))

    r2 = _run(work, out)
    assert r2["stages"]["pack"] == {**r1["stages"]["pack"], "cached": True}
    assert not os.path.exists(staged)
    assert _data_files(cleaned) == files
    assert _publish_id(out, "cleaned") == _publish_id(out, "lineage")


_CKPT_MODE_SCRIPT = r"""
import glob
import json
import sys

from pyspark.sql import SparkSession

from timezone_boundary_builder_spark.operators.dedup import (
    connected_components,
    minhash_lsh_pairs,
    minhash_signatures,
)

mode, ckdir = sys.argv[1], sys.argv[2]
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
sc = spark.sparkContext
sc.setLogLevel("ERROR")
if mode == "reliable":
    sc.setCheckpointDir(ckdir)
else:
    assert not sc._jsc.sc().checkpointDir().isDefined()
docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
sigs = minhash_signatures(docs, num_hashes=4, shingle_size=3)
pairs = minhash_lsh_pairs(sigs, num_hashes=4, bands=2, materialize=True)
rows = sorted(tuple(r) for r in pairs.collect())
if mode == "reliable":
    # durable files exist, and the persist that guarded the checkpoint
    # write was released: nothing lingers in the block manager (the
    # localCheckpoint fallback by contrast IS executor-resident blocks)
    assert glob.glob(ckdir + "/*/rdd-*/part-*"), "no checkpoint files"
    infos = sc._jsc.sc().getRDDStorageInfo()
    assert len(infos) == 0, [str(i) for i in infos]
    # the iterative CC path (per-round truncation) also runs reliably
    edges = spark.createDataFrame(
        [(2 * i, 2 * i + 1) for i in range(20)], "id_a long, id_b long"
    )
    assert connected_components(edges).count() == 40
print(json.dumps(rows))
spark.stop()  # the job-runner interpreter is shared; never leak a session
"""


def test_reliable_checkpoint_mode_equivalent_and_releases_blocks(tmp_path):
    """The reliable-checkpoint branch of _materialize_then_unpersist
    (used whenever a checkpoint dir is configured — clean_corpus's
    default) produces the SAME candidate pairs as the localCheckpoint
    fallback, writes durable checkpoint files, and frees its guard
    persist. Two isolated script runs (via the persistent job-runner)
    because a context's checkpoint dir cannot be unset once configured."""

    def run(mode):
        proc = run_code(
            _CKPT_MODE_SCRIPT, [mode, str(tmp_path / "ck")], timeout=420
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        return json.loads(proc.stdout.strip().splitlines()[-1])

    local_rows = run("local")
    reliable_rows = run("reliable")
    assert reliable_rows == local_rows and len(local_rows) > 0
