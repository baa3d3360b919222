"""spark-submit entry point.

North-rule launch shape: ``spark-submit --py-files cfht2caom2_spark.zip
-m …`` on a multi-executor cluster.  Locally::

    python -m cfht2caom2_spark batch  --pages <dir> --out <dir> [--no-dedupe]
    python -m cfht2caom2_spark state  --table <dir> --out <dir> --bookmark <f>
    python -m cfht2caom2_spark stream --table <dir> --out <dir>
    python -m cfht2caom2_spark mix    --decisions <dir> --out <dir> --rates <json>
    python -m cfht2caom2_spark synth  --out <dir> --rows 100000

Reference analogue: the cfht_run / cfht_run_state console scripts
(setup.cfg:67-68) — one binary per execution mode over the same visitor plan.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="cfht2caom2_spark")
    sub = p.add_subparsers(dest="mode", required=True)

    b = sub.add_parser("batch", help="full batch run with lineage + resume")
    b.add_argument("--pages", required=True, help="pages parquet/table dir")
    b.add_argument("--out", required=True)
    b.add_argument("--snapshot-id", type=int, default=0)
    b.add_argument("--no-dedupe", action="store_true")
    b.add_argument("--no-resume", action="store_true")
    b.add_argument("--no-previews", action="store_true")
    b.add_argument("--dedup-policy", choices=["pairs", "clusters"],
                   default="pairs",
                   help="near-dup removal: pair-dominance (default) or "
                        "keep-earliest-per-connected-component")
    b.add_argument("--host-backfill", action="store_true",
                   help="adopt the host's consensus language for "
                        "low-confidence predictions")
    b.add_argument("--boilerplate", action="store_true",
                   help="strip cross-document boilerplate lines "
                        "(trimmed line in >= 3 distinct docs) before "
                        "stats + scrub")
    b.add_argument("--canonical-urls", action="store_true",
                   help="canonicalize urls at ingress (strip UTM/click-id "
                        "params, fragments) so campaign variants share one "
                        "identity before dedup")
    b.add_argument("--lm-counts", default=None,
                   help="perplexity-LM count JSON (inline, or @path) as "
                        "produced by the train-lm mode; default keeps the "
                        "seed-corpus model")
    b.add_argument("--quality-weights", default=None,
                   help="quality-score weight JSON (inline, or @path to a "
                        "file) as produced by the train-quality mode; "
                        "default keeps the built-in weights")
    b.add_argument("--span-dedup", action="store_true",
                   help="ExactSubstr keep-one span removal: strip later "
                        "occurrences of >=50-token runs (operators/spans.py)")
    b.add_argument("--gopher-gates", action="store_true",
                   help="enable the full Gopher dup-ngram ladder "
                        "(top-2/3/4-gram + dup-5..10-gram char fractions "
                        "at the published thresholds; costlier stat stage)")
    b.add_argument("--min-sentences", type=int, default=0,
                   help="C4 page gate: drop docs with fewer than N "
                        "sentences (0 = off; C4 uses 3)")
    b.add_argument("--benchmark", default=None,
                   help="parquet of eval-suite docs (column `text`); docs "
                        "overlapping it fire the `contaminated` drop rule")
    b.add_argument("--fuzzy-decontam", action="store_true",
                   help="with --benchmark: also flag NEAR-duplicates of "
                        "eval docs (MinHash signature agreement >= 0.5 "
                        "estimated Jaccard) as `contaminated_fuzzy` — "
                        "catches paraphrased leakage the exact k-gram "
                        "pass misses")

    s = sub.add_parser("state", help="incremental snapshot-range tick")
    s.add_argument("--table", required=True, help="SnapshotTable root")
    s.add_argument("--out", required=True)
    s.add_argument("--bookmark", required=True)
    s.add_argument("--history-dedup", action="store_true",
                   help="demote increment rows whose content an earlier "
                        "tick already kept (exact check against the "
                        "accumulated store's kept hashes)")

    st = sub.add_parser("stream", help="structured-streaming mode")
    st.add_argument("--table", required=True)
    st.add_argument("--out", required=True)
    st.add_argument("--continuous", action="store_true",
                    help="keep running (default: availableNow then exit)")

    c = sub.add_parser("compact",
                       help="cross-increment exact-dup compaction rewrite")
    c.add_argument("--decisions", required=True, help="decisions store root")
    c.add_argument("--out", required=True, help="compacted output root")

    m = sub.add_parser("mix", help="assemble a training mixture from a "
                                   "decisions store (kept docs, per-language "
                                   "deterministic sampling)")
    m.add_argument("--decisions", required=True, help="decisions parquet dir")
    m.add_argument("--out", required=True)
    m.add_argument("--rates", required=True,
                   help='JSON lang -> keep rate, e.g. \'{"en":0.6,"zh":0.2}\'')
    m.add_argument("--default-rate", type=float, default=0.0)

    tl = sub.add_parser("train-lm",
                        help="fit the char-bigram perplexity LM from a "
                             "decisions store (CCNet recipe: train on your "
                             "own kept text); prints the count JSON that "
                             "batch mode accepts via --lm-counts")
    tl.add_argument("--decisions", required=True,
                    help="decisions parquet dir")
    tl.add_argument("--kept-only", action="store_true",
                    help="train on keep=true rows only")

    tb = sub.add_parser("train-bpe",
                        help="learn a BPE merge table from a decisions "
                             "store (distributed wordcount -> bounded-vocab "
                             "merge learning); prints the merge JSON "
                             "functions/bpe.py encoders accept")
    tb.add_argument("--decisions", required=True,
                    help="decisions parquet dir")
    tb.add_argument("--kept-only", action="store_true",
                    help="train on keep=true rows only")
    tb.add_argument("--merges", type=int, default=200)
    tb.add_argument("--vocab-top-k", type=int, default=50_000)

    tq = sub.add_parser("train-quality",
                        help="fit quality-score weights (LR over the six "
                             "score features) from a decisions store; "
                             "prints the weight JSON that batch mode "
                             "accepts via --quality-weights")
    tq.add_argument("--decisions", required=True,
                    help="decisions parquet dir")

    tc = sub.add_parser("train-centroids",
                        help="train k-means centroids over an embeddings "
                             "parquet (operators/kmeans.py); prints the "
                             "centroid JSON; with --cap/--out also writes "
                             "the cluster-balanced (id, cell) sample")
    tc.add_argument("--input", required=True,
                    help="parquet with (vec_id, embedding) columns")
    tc.add_argument("--k", type=int, default=256)
    tc.add_argument("--iters", type=int, default=10)
    tc.add_argument("--seed", type=int, default=0)
    tc.add_argument("--cap", type=int, default=0,
                    help="also write a cluster-balanced sample capped at "
                         "this many expected rows per cell (needs --out)")
    tc.add_argument("--out", default=None,
                    help="output parquet dir for the --cap sample")

    ds = sub.add_parser("dsir",
                        help="DSIR importance weights over a corpus "
                             "(Xie et al. 2023): score every doc by how "
                             "target-like its word n-gram bag is; write "
                             "weights (+ optional top-k selection) parquet")
    ds.add_argument("--input", required=True,
                    help="documents/decisions parquet dir")
    ds.add_argument("--target", required=True,
                    help="SQL predicate defining the target domain over the "
                         "input columns, e.g. \"lang_pred = 'en'\" or "
                         "\"quality_score > 0.8\"")
    ds.add_argument("--out", required=True)
    ds.add_argument("--top-k", type=int, default=0,
                    help="also write the k highest-importance ids to "
                         "<out>/selected (0 = weights only)")
    ds.add_argument("--min-count", type=int, default=5)
    ds.add_argument("--hash-buckets", type=int, default=0,
                    help="fixed feature-bucket count (production mode; "
                         "0 = string features with the min-count prune)")

    pk = sub.add_parser("pack",
                        help="pack a decisions store's kept docs into "
                             "fixed-length training blocks: deterministic "
                             "epoch shuffle, then the concatenate-and-chop "
                             "token-span map (operators/packing.py)")
    pk.add_argument("--decisions", required=True,
                    help="decisions parquet dir")
    pk.add_argument("--out", required=True,
                    help="output dir for the per-doc packing map parquet")
    pk.add_argument("--block-tokens", type=int, default=1024)
    pk.add_argument("--seed", type=int, default=0,
                    help="epoch permutation seed (same seed = byte-"
                         "identical order on any cluster size)")
    pk.add_argument("--no-shuffle", action="store_true",
                    help="pack in url order instead of the epoch shuffle")

    g = sub.add_parser("synth", help="generate a synthetic pages table")
    g.add_argument("--out", required=True)
    g.add_argument("--rows", type=int, default=100_000)
    g.add_argument("--seed", type=int, default=42)

    args = p.parse_args(argv)

    # argument-pairing checks BEFORE the Spark session exists: a bad pairing
    # must fail in milliseconds, not after an hours-long training run (and
    # p.error's SystemExit would bypass the spark.stop() at the end of main)
    if args.mode == "train-centroids" and args.cap and not args.out:
        p.error("--cap needs --out")

    from .session import get_spark

    spark = get_spark(app_name=f"cfht2caom2_spark-{args.mode}")

    if args.mode == "batch":
        from .plans.pipeline import run_batch
        from .sources.table import open_table

        # One seam for every storage flavour (SURVEY §1.3 S1-S3): a plain
        # parquet dir, a SnapshotTable root (time travel via --snapshot-id),
        # or an Iceberg catalog identifier like lake.web.pages.
        pages = open_table(spark, args.pages).read(
            spark, snapshot_id=args.snapshot_id or None)
        if "p_day" in pages.columns:   # derived partition col, re-derived on write
            pages = pages.drop("p_day")
        from dataclasses import replace

        from .config import DEFAULT_PROFILE

        profile = replace(DEFAULT_PROFILE,
                          dedup_policy=args.dedup_policy,
                          host_lang_backfill=args.host_backfill,
                          boilerplate_removal=args.boilerplate,
                          span_removal=args.span_dedup,
                          canonicalize_urls=args.canonical_urls,
                          gopher_repetition_gates=args.gopher_gates,
                          min_sentences=args.min_sentences,
                          decontam_fuzzy=args.fuzzy_decontam)
        benchmark = (spark.read.parquet(args.benchmark)
                     if args.benchmark else None)
        qw = None
        if args.quality_weights:
            if args.quality_weights.startswith("@"):
                with open(args.quality_weights[1:]) as fh:
                    qw = json.load(fh)
            else:
                qw = json.loads(args.quality_weights)
        lm = None
        if args.lm_counts:
            from .functions.perplexity import lm_counts_from_json

            if args.lm_counts.startswith("@"):
                with open(args.lm_counts[1:]) as fh:
                    lm = lm_counts_from_json(fh.read())
            else:
                lm = lm_counts_from_json(args.lm_counts)
        result = run_batch(spark, pages, args.out, profile=profile,
                           snapshot_id=args.snapshot_id,
                           resume=not args.no_resume,
                           dedupe=not args.no_dedupe,
                           previews=not args.no_previews,
                           benchmark=benchmark,
                           quality_weights=qw,
                           ppl_model=lm)
        print(json.dumps(result))
    elif args.mode == "state":
        from .sources.table import open_table
        from .streaming.incremental import process_increment

        result = process_increment(spark, open_table(spark, args.table),
                                   args.out, args.bookmark,
                                   history_dedup=args.history_dedup)
        print(json.dumps(result))
    elif args.mode == "stream":
        from .sources.table import SnapshotTable, open_table
        from .streaming.incremental import stream_pages

        table = open_table(spark, args.table)
        if not isinstance(table, SnapshotTable):
            p.error(f"stream mode needs a SnapshotTable root (file-source "
                    f"streaming over its data dir); {args.table!r} resolved "
                    f"to {type(table).__name__}")
        q = stream_pages(spark, table, args.out,
                         trigger_once=not args.continuous)
        q.awaitTermination()
    elif args.mode == "mix":
        from .operators.sampling import assemble_mixture

        print(json.dumps(assemble_mixture(
            spark, args.decisions, args.out,
            rates=json.loads(args.rates), default_rate=args.default_rate)))
    elif args.mode == "train-lm":
        from .functions.perplexity import corpus_lm_counts, lm_counts_to_json

        decisions = spark.read.parquet(args.decisions)
        if args.kept_only:
            decisions = decisions.filter("keep")
        # the scrubbed artifact is what the corpus trains on; lang_pred is
        # the model's language key
        text_col = ("scrubbed_text" if "scrubbed_text" in decisions.columns
                    else "extracted_text")
        print(lm_counts_to_json(corpus_lm_counts(decisions,
                                                 text_col=text_col)))
    elif args.mode == "train-bpe":
        from .functions.bpe import merges_to_json, train_bpe

        decisions = spark.read.parquet(args.decisions)
        if args.kept_only:
            decisions = decisions.filter("keep")
        text_col = ("scrubbed_text" if "scrubbed_text" in decisions.columns
                    else "extracted_text")
        print(merges_to_json(train_bpe(decisions, text_col=text_col,
                                       n_merges=args.merges,
                                       vocab_top_k=args.vocab_top_k)))
    elif args.mode == "train-quality":
        from .functions.quality import train_quality_weights

        decisions = spark.read.parquet(args.decisions)
        print(json.dumps(train_quality_weights(decisions)))
    elif args.mode == "train-centroids":
        from .operators.kmeans import (cluster_balanced_sample, kmeans_cost,
                                       train_centroids)

        emb = spark.read.parquet(args.input)
        cents = train_centroids(emb, k=args.k, n_iter=args.iters,
                                seed=args.seed)
        summary = {"k": len(cents), "dim": len(cents[0]) if cents else 0,
                   "iters": args.iters, "seed": args.seed,
                   "cost": kmeans_cost(emb, cents),
                   "centroids": cents}
        if args.cap:
            # --cap/--out pairing already validated right after parse_args,
            # before the Spark session existed
            sample = cluster_balanced_sample(emb, cents, args.cap,
                                             seed=args.seed)
            sample.write.mode("overwrite").parquet(args.out)
            summary["sampled"] = spark.read.parquet(args.out).count()
            summary["out"] = args.out
        print(json.dumps(summary))
    elif args.mode == "dsir":
        from pyspark.sql import functions as F

        from .operators.dsir import importance_weights, select_top_k

        docs = spark.read.parquet(args.input)
        id_col = "url" if "url" in docs.columns else "doc_id"
        text_col = next(c for c in ("scrubbed_text", "extracted_text", "text")
                        if c in docs.columns)
        weights = importance_weights(
            docs, F.expr(args.target), id_col=id_col, text_col=text_col,
            min_count=args.min_count,
            hash_buckets=args.hash_buckets or None)
        weights.write.mode("overwrite").parquet(f"{args.out}/weights")
        summary = {"docs": spark.read.parquet(f"{args.out}/weights").count(),
                   "out": args.out}
        if args.top_k:
            sel = select_top_k(weights, args.top_k, id_col=id_col)
            sel.write.mode("overwrite").parquet(f"{args.out}/selected")
            summary["selected"] = args.top_k
        print(json.dumps(summary))
    elif args.mode == "pack":
        from pyspark.sql import functions as F

        from .functions.tokens import bpe_ish_token_count
        from .operators.packing import hash60_fast, pack_blocks, shuffle_key

        decisions = spark.read.parquet(args.decisions)
        # (url, warc_ts) is the row identity: re-crawls of one url with
        # different content are distinct kept training docs
        kept = decisions.filter("keep").select("url", "warc_ts",
                                               "scrubbed_text")
        order_col = "url"
        if not args.no_shuffle:
            # production hash (xxhash64) — the oracle-portable md5 path is
            # pinned by q_corpus_shuffle; the ordering contract is identical
            kept = kept.withColumn(
                "_epoch_key",
                shuffle_key(F.concat_ws("#", F.col("url"),
                                        F.col("warc_ts").cast("string")),
                            args.seed, hash60_fast))
            order_col = "_epoch_key"
        packed = pack_blocks(kept, id_col=["url", "warc_ts"],
                             text_col="scrubbed_text",
                             block_tokens=args.block_tokens,
                             count_fn=bpe_ish_token_count,
                             order_col=order_col)
        packed.write.mode("overwrite").parquet(args.out)
        stats = spark.read.parquet(args.out).agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_tokens").alias("tokens"),
            (F.max("last_block") + 1).alias("blocks")).first()
        print(json.dumps({"docs": stats["docs"],
                          "tokens": stats["tokens"] or 0,
                          "blocks": stats["blocks"] if stats["blocks"]
                          is not None else 0,
                          "block_tokens": args.block_tokens,
                          "seed": None if args.no_shuffle else args.seed,
                          "out": args.out}))
    elif args.mode == "compact":
        from .operators.compact import compact_decisions

        print(json.dumps(compact_decisions(spark, args.decisions, args.out)))
    elif args.mode == "synth":
        from .sources.pages import synth_pages

        synth_pages(spark, args.rows, args.seed).write.mode("overwrite") \
            .parquet(args.out)
        print(json.dumps({"rows": args.rows, "out": args.out}))

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
