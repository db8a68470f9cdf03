"""Webtext corpus-cleaning production job — the LLM-data counterpart of
build_all (Part A) and assign_pages (Part B): the full training-data
pipeline as one resumable spark-submit surface.

    cd /root/repo && zip -qr /tmp/engine.zip timezone_boundary_builder_spark
    spark-submit --master local[8] --py-files /tmp/engine.zip \
        jobs/clean_corpus.py --docs-parquet /root/testdata/sf0.01/documents.parquet \
        --work-dir /tmp/cw --out-dir /tmp/clean
    # or straight from a crawl table (snapshot-pinned, url as doc id):
    ... jobs/clean_corpus.py --pages-root /data/pages --work-dir ... --out-dir ...

Stages (each checkpoint-resumed via the stage manifest, keyed by input +
thresholds — rerunning with nothing changed is all manifest hits):

    quality    codegen'd quality + language-ID + Gopher repetition gates
    exact      exact dedup (normalized-md5 window, keep min doc_id)
    neardup    MinHash -> LSH bands -> exact n-gram-Jaccard verify ->
               connected components; keep each cluster's representative
    decon      (opt, --decontaminate-parquet) drop docs sharing an n-gram
               with a benchmark/eval set
    mix        (opt, --mix-rates) mixture-weight rebalancing over --mix-col
    pack       deterministic shard + token-budget batch assignment

PII redaction (--redact-pii) is not a stage: it rewrites the text at
ingest, so every gate, hash, and packed doc downstream sees redacted
bytes; totals are reported under stages.pii.

Output: cleaned corpus parquet (doc_id, lang, ws_tokens, shard,
batch_id) at <out>/cleaned, its per-partition lineage table at
<out>/lineage, and ONE JSON line of per-stage row counts on stdout. Every
gate is an explicit counter — rows dropped by each stage are reported,
never silently vanished. The pack stage is the output: staged under
--work-dir, verified (its doc_id hash and row count equal those of the
stage that fed it, so packing neither dropped nor duplicated a doc) and
renamed into <out>/cleaned; both directories carry the same
_publish.json (publish_id, and the input key as snapshot). A re-run into
the same --out-dir replays: pack is a manifest hit on the published
rows, which are re-verified and re-published without being rewritten.

Scale shape: quality/exact are scan -> codegen filters -> one window;
neardup shuffles are doc-sized or candidate-sized (the LSH design from
operators/dedup.py); packing is one hash-shard shuffle + per-shard
window. Nothing corpus-sized is collected to the driver.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time


def _input_fingerprint(path: str) -> str:
    """Content-tracking key for a parquet input: per-file (name, size,
    mtime_ns) — rewriting the same path with different bytes changes the
    key, so stage resume can never serve stale outputs (build_all
    fingerprints its config content the same way)."""
    if os.path.isdir(path):
        # recursive: partitioned/nested parquet directories (dt=.../part-*.
        # parquet) must contribute to the key, or resume would serve stale
        # outputs after the nested data changes
        files = []
        for root, _dirs, names in os.walk(path):
            for name in names:
                if name.endswith(".parquet"):
                    files.append(os.path.join(root, name))
        files.sort()
        base = path
    else:
        files, base = [path], os.path.dirname(path)
    parts = []
    for f in files:
        st = os.stat(f)
        parts.append(f"{os.path.relpath(f, base)}:{st.st_size}:{st.st_mtime_ns}")
    return "|".join(parts)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--docs-parquet")
    # crawl-table mode: read (url -> doc_id, text, lang) straight from
    # the Iceberg-lite pages table — snapshot-pinned, so the cleaning
    # run is reproducible against a moving table
    src.add_argument("--pages-root")
    p.add_argument("--snapshot", default=None)
    p.add_argument("--work-dir", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--cores", type=int, default=8)
    p.add_argument("--min-words", type=int, default=20)
    p.add_argument("--min-stopword-ratio", type=float, default=0.05)
    p.add_argument("--max-top-bigram-frac", type=float, default=0.5)
    # Gopher repetition gates (1.0 = off): applied with the bigram gate
    # in the quality stage, thresholds keyed into the stage fingerprint
    p.add_argument("--max-top-word-frac", type=float, default=1.0)
    p.add_argument("--max-dup-word-frac", type=float, default=1.0)
    p.add_argument("--jaccard", type=float, default=0.8)
    # optional hygiene / rebalancing stages (all off by default)
    p.add_argument("--redact-pii", action="store_true",
                   help="strip emails/IPv4s/phones before any gate sees the text")
    p.add_argument("--decontaminate-parquet", default=None,
                   help="benchmark/eval parquet (needs a text column): drop "
                        "every doc sharing an n-gram with it")
    p.add_argument("--decon-ngram", type=int, default=8)
    p.add_argument("--mix-rates", default=None,
                   help='JSON dict of per-value keep rates over --mix-col, '
                        'e.g. \'{"en": 1.0, "de": 0.25}\' — values absent '
                        "from the dict are DROPPED")
    p.add_argument("--mix-col", default="lang")
    p.add_argument("--mix-seed", type=int, default=7)
    p.add_argument("--token-budget", type=float, default=2048.0)
    p.add_argument("--n-shards", type=int, default=16)
    args = p.parse_args(argv)

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from timezone_boundary_builder_spark.session import get_spark

    spark = get_spark("tzbb-clean-corpus", cores=args.cores)
    # reliable checkpoints by default: with a checkpoint dir configured,
    # the dedup family's lineage-truncation points (LSH candidate pairs,
    # CC pointer-jump rounds — dedup._materialize_then_unpersist) write
    # durable files instead of executor-resident localCheckpoint blocks,
    # which a lost executor on a real cluster cannot recompute. Living
    # under --work-dir, they share the stage manifests' lifecycle: a
    # completed run's files can be swept with the work dir.
    spark.sparkContext.setCheckpointDir(os.path.join(args.work_dir, "checkpoints"))

    from timezone_boundary_builder_spark.operators.dedup import (
        connected_components,
        minhash_lsh_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )
    from timezone_boundary_builder_spark.operators.sampling import pack_token_batches
    from timezone_boundary_builder_spark.operators.text import (
        repetition_signals,
        with_langid,
        with_quality,
        with_token_counts,
    )
    from timezone_boundary_builder_spark.plans.manifests import (
        StageManifest,
        fingerprint,
        publish,
    )

    t0 = time.time()
    manifest = StageManifest(args.work_dir)
    if args.pages_root:
        from timezone_boundary_builder_spark.sources import pages as pages_table

        sid = args.snapshot or pages_table.current_snapshot_id(args.pages_root)
        docs = pages_table.scan(spark, args.pages_root, snapshot_id=sid).select(
            F.col("url").alias("doc_id"), "text", "lang"
        )
        source_key = f"{args.pages_root}@{sid}"  # snapshot id IS content
    else:
        docs = spark.read.parquet(args.docs_parquet).select("doc_id", "text", "lang")
        source_key = f"{args.docs_parquet}|{_input_fingerprint(args.docs_parquet)}"
    # one input scan computes the row count AND (when enabled) the PII
    # totals — a separate totals aggregate would cost a second full
    # redaction pass on EVERY run, including fully manifest-cached ones
    if args.redact_pii:
        from timezone_boundary_builder_spark.operators.text import redact_pii

        red = redact_pii(docs)
        row = red.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_emails").alias("e"),
            F.sum("n_ips").alias("i"),
            F.sum("n_phones").alias("p"),
        ).collect()[0]
        n_in, pii_totals = row["n"], row
        docs = red.drop("n_emails", "n_ips", "n_phones")
    else:
        n_in = docs.count()
    # stage keys scope each threshold to the stages it affects: a
    # --jaccard change must not recompute quality/exact
    gate_fp = fingerprint(
        "clean",
        source_key,
        str(n_in),
        str(args.min_words),
        str(args.min_stopword_ratio),
        str(args.max_top_bigram_frac),
        str(args.max_top_word_frac),
        str(args.max_dup_word_frac),
        f"pii={args.redact_pii}",
    )
    stages = {"input": {"rows": n_in}}
    if args.redact_pii:
        stages["pii"] = {
            "emails": int(pii_totals["e"] or 0),
            "ips": int(pii_totals["i"] or 0),
            "phones": int(pii_totals["p"] or 0),
        }

    # --- quality gates: codegen'd features + repetition signals --------
    def compute_quality():
        q = with_token_counts(with_langid(with_quality(docs)))
        rep = repetition_signals(docs)
        return (
            q.join(rep, "doc_id")
            .where(
                (F.col("n_words_q") >= args.min_words)
                & (F.col("stopword_ratio") >= args.min_stopword_ratio)
                & (F.col("top_bigram_frac") <= args.max_top_bigram_frac)
                & (F.col("top_word_frac") <= args.max_top_word_frac)
                & (F.col("dup_word_frac") <= args.max_dup_word_frac)
            )
            .select("doc_id", "text", "lang", "lang_pred", "ws_tokens")
        )

    quality, cached_q = manifest.run_stage(
        spark, "quality", fingerprint("quality", gate_fp), compute_quality
    )
    stages["quality"] = {"cached": cached_q, "rows": quality.count()}

    # --- exact dedup: normalized-md5 window, keep min doc_id ------------
    def compute_exact():
        from timezone_boundary_builder_spark.operators.text import norm_text_col

        w = Window.partitionBy(F.md5(norm_text_col())).orderBy("doc_id")
        return (
            quality.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .drop("__rn")
        )

    exact, cached_e = manifest.run_stage(
        spark, "exact", fingerprint("exact", gate_fp), compute_exact
    )
    stages["exact"] = {"cached": cached_e, "rows": exact.count()}

    # --- near-dup: LSH candidates -> exact verify -> CC keep-reps -------
    def compute_neardup():
        sigs = minhash_signatures(exact, num_hashes=4, shingle_size=3)
        cand = minhash_lsh_pairs(sigs, num_hashes=4, bands=2, materialize=True)
        verified = ngram_jaccard_pairs(
            exact, cand, n=3, threshold=args.jaccard
        ).select("id_a", "id_b")
        clusters = connected_components(verified)
        # drop non-representative members; docs in no cluster keep
        drop = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        return exact.join(drop, "doc_id", "left_anti")

    neardup, cached_n = manifest.run_stage(
        spark,
        "neardup",
        fingerprint("neardup", gate_fp, str(args.jaccard)),
        compute_neardup,
    )
    # every stage that can feed pack is counted by the one aggregate pack
    # is verified against: its rows and the order-insensitive doc_id hash
    def tally(df):
        return df.agg(
            F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("doc_id")).alias("h")
        ).collect()[0]

    fed = tally(neardup)
    stages["neardup"] = {"cached": cached_n, "rows": fed["n"]}

    # --- optional: train/eval decontamination ----------------------------
    current = neardup
    decon_key = ""
    if args.decontaminate_parquet:
        from timezone_boundary_builder_spark.operators.dedup import decontaminate

        decon_key = (
            f"{args.decon_ngram}|{args.decontaminate_parquet}|"
            f"{_input_fingerprint(args.decontaminate_parquet)}"
        )

        prev_d = current

        def compute_decon():
            bench = spark.read.parquet(args.decontaminate_parquet).select("text")
            flagged = decontaminate(
                prev_d, bench, n=args.decon_ngram, bench_text_col="text"
            ).where(F.col("contaminated"))
            return prev_d.join(
                flagged.select("doc_id"), "doc_id", "left_anti"
            )

        current, cached_d = manifest.run_stage(
            spark,
            "decon",
            fingerprint("decon", gate_fp, str(args.jaccard), decon_key),
            compute_decon,
        )
        fed = tally(current)
        stages["decon"] = {"cached": cached_d, "rows": fed["n"]}

    # --- optional: mixture-weight rebalancing ----------------------------
    mix_key = ""
    if args.mix_rates:
        from timezone_boundary_builder_spark.operators.sampling import mix_sources

        rates = {str(k): float(v) for k, v in json.loads(args.mix_rates).items()}
        mix_key = f"{json.dumps(rates, sort_keys=True)}|{args.mix_col}|{args.mix_seed}"
        prev = current

        def compute_mix():
            return mix_sources(
                prev, rates, source_col=args.mix_col, id_col="doc_id",
                seed=args.mix_seed,
            )

        current, cached_m = manifest.run_stage(
            spark,
            "mix",
            fingerprint("mix", gate_fp, str(args.jaccard), decon_key, mix_key),
            compute_mix,
        )
        fed = tally(current)
        stages["mix"] = {"cached": cached_m, "rows": fed["n"]}

    # --- token-budget packing -------------------------------------------
    def compute_pack():
        return pack_token_batches(
            current.select("doc_id", "lang", "lang_pred", "ws_tokens"),
            "doc_id",
            "ws_tokens",
            budget=args.token_budget,
            n_shards=args.n_shards,
        )

    # the one write of the packed rows: staged under --work-dir (the
    # resume checkpoint), verified against `fed` (packing neither drops
    # nor duplicates a doc) and renamed into place with its lineage
    cleaned = os.path.join(args.out_dir, "cleaned")
    packed, cached_p = manifest.run_stage(
        spark,
        "pack",
        fingerprint(
            "pack", gate_fp, str(args.jaccard), decon_key, mix_key,
            str(args.token_budget), str(args.n_shards),
        ),
        compute_pack,
        publish_to=cleaned,
    )
    summary = publish(
        manifest, "pack", packed, fed, cleaned, os.path.join(args.out_dir, "lineage"), source_key,
        "doc_id", F.concat_ws("/", "shard", "batch_id"), ("doc_id",),
    )
    stages["pack"] = {"cached": cached_p, "rows": summary.rows, "batches": len(summary.counts)}

    print(
        json.dumps(
            {
                "stages": stages,
                "kept_frac": round(summary.rows / max(n_in, 1), 4),
                "wall_sec": round(time.time() - t0, 2),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
