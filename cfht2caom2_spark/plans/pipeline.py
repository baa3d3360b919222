"""The flagship end-to-end quality-filter plan.

Reference analogue: the canonical per-record step sequence the reference
spells out at cfht_name.py:734-756 (preconditions -> read -> visit_meta ->
visit_data -> write -> store), recast as ONE declarative DataFrame graph
(SURVEY.md §3.1):

    read pages
      -> extraction + language ID + perplexity + heuristic stats
         + MinHash signature
         (one mapInPandas pass, broadcast models; S4/S5/P11) [narrow]
      -> quality score + scrub (built-in exprs; P10)         [narrow]
      -> exact + minhash dedup flags (J8)                    [the wide ops]
      -> decision (P14)                                      [narrow]
      -> decisions sink + lineage rows (A6)

Everything upstream of dedup pipelines in one stage per partition (the
single-visit fusion lesson, composable.py:90-98).  At 100 TB the plan's cost
is: 1 scan + 1 fused Arrow pass + the dedup's slim shuffles + 1 loser
join-back; no other data movement (SCALE_RUNBOOK.md §3).  The dedup ranks
its slim (url, ts, sha, signature) rows ONCE: the url and content-hash
windows each shuffle once into a checkpoint that the exact losers and the
banded MinHash self-join both read.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import DEFAULT_PROFILE, RuleProfile
from ..functions.fused import with_extract_and_scores
from ..functions.langid import TrigramLangID
from ..functions.perplexity import BigramLM
from ..functions.quality import with_quality_score, with_quality_stats
from ..functions.scrub import scrub_rules_fired, scrubbed
from ..operators.decision import with_decision
from ..operators.dedup import minhash_losers_from_sig
from ..operators.resume import (lineage_rows, partition_id_col, pending_work,
                                read_store, write_lineage)
from ..session import release

OUTPUT_COLUMNS = [
    "url", "warc_ts", "extracted_sha256", "lang_pred", "lang_conf",
    "lang_source", "ppl",
    "n_words", "mean_word_len", "symbol_ratio", "stopword_frac",
    "alpha_word_frac", "repeated_line_frac", "repeated_paragraph_frac",
    "quality_score", "span_removed_tokens",
    "keep", "rules", "scrub_rules", "scrubbed_text",
]


def _row_key() -> Column:
    """Join-back key for per-row derived frames (boilerplate reassembly,
    decontam flags).  Folds the content hash in: (url, warc_ts) alone is NOT
    unique — re-crawls can legally share both — and a bare 64-bit hash of it
    collides with statistical certainty at 10^12 docs, cross-assigning one
    doc's derived value to another.  With the sha folded in, rows sharing
    the key carry identical text, so any derived value is interchangeable
    between them; a residual 2^-64 triple collision is the only corruption
    mode left (documented, accepted)."""
    return F.xxhash64(F.col("url"), F.col("warc_ts"),
                      F.col("extracted_sha256"))


def build_pipeline(pages: DataFrame, spark: SparkSession,
                   profile: RuleProfile = DEFAULT_PROFILE,
                   dedupe: bool = True,
                   langid_model: TrigramLangID | None = None,
                   ppl_model: BigramLM | None = None,
                   has_html: bool = True,
                   persist_tracker: list | None = None,
                   benchmark: DataFrame | None = None,
                   quality_weights: dict | None = None) -> DataFrame:
    """Pure plan builder: pages -> decisions.  Imported by batch main,
    streaming foreachBatch, pytest, and the driver entry — the same plan runs
    everywhere (the reference's SCRAPE-mode purity, SURVEY.md §3.3).

    Extraction + langid + perplexity (+ the MinHash signature when
    ``dedupe``) run in ONE Arrow pass (functions/fused.py; single-visit
    fusion, composable.py:90-98 analogue).  A page is identified by
    ``url`` and ordered by ``warc_ts``; a ``benchmark`` frame carries its
    eval text in ``text``.

    ``persist_tracker``: optional list the builder appends every frame it
    pins to: the post-UDF frame, the span input, the ranked dedup frame,
    and the pins of the operators it calls (``minhash_losers_from_sig``'s
    signature frame, the boilerplate line stream, the span window stream,
    the decontamination gram and signature frames), each a
    ``localCheckpoint``.  The caller passes the list to
    ``session.release`` once its terminal action has run; untracked pins
    wait for Spark's cleaner.
    """
    pins = [] if persist_tracker is None else persist_tracker
    df = pages
    if profile.canonicalize_urls:
        # identity normalization FIRST: every downstream consumer of the id
        # (exact-dup url ranking, host consensus, resume filter, the
        # sha-folded derived-frame keys) sees the canonical form, so
        # campaign variants of one page are one identity everywhere
        from ..functions.identity import canonical_url

        df = df.withColumn("url", canonical_url(F.col("url")))
    df = with_extract_and_scores(
        df, spark, langid_model, ppl_model, has_html=has_html,
        # MinHash signatures ride the same Arrow pass (numpy-vectorized);
        # the JVM then only bands + self-joins 32-long arrays
        minhash_perms=(profile.minhash_bands * profile.minhash_rows_per_band
                       if dedupe else 0),
        shingle_k=profile.shingle_size,
    )
    # the fused pass computed the heuristic stats of the extracted text;
    # the optional boilerplate and span passes below rewrite that text, and
    # then the stats are recomputed — they must describe the text the
    # corpus actually trains on

    # raw payloads are consumed by extraction; everything downstream works on
    # extracted_text — dropping them here keeps the pin and any shuffle
    # payload-free (html is the fat column; column pruning can't help once
    # we're past the scan)
    df = df.drop(*[c for c in ("html", "text") if c in df.columns])

    # dedup, host-backfill and boilerplate removal all fan the plan out (slim
    # dedup projections / the consensus aggregate / the line-frequency
    # subtree + the main branch): pin the post-UDF frame so extraction +
    # model scoring execute ONCE, not once per subtree (the reference's
    # headers-fetched-once discipline, cfht_name.py:525-548; SURVEY §4
    # "cache the post-extraction DataFrame before fanning out")
    if (dedupe or profile.host_lang_backfill or profile.boilerplate_removal
            or profile.span_removal or benchmark is not None):
        # the pin is EAGER: one fully-parallel job materializes it now.
        # Left lazy, AQE launches the fan-out subtrees concurrently and
        # their tasks serialize on the block-population lock per partition
        # (measured: 3 blocked 8-task stages, ~45% idle cores at 1M rows x
        # 8 cores); pinned blocks restore full parallelism downstream
        df = df.localCheckpoint(eager=True)
        pins.append(df)
    # dedup keys/signatures and the boilerplate line frequencies read the
    # pinned pre-backfill frame
    base = df

    if profile.boilerplate_removal:
        # CCNet/RefinedWeb cross-doc line dedup inside the main visit
        # (reference runs cleanup_augmentation inside DATA_VISITORS,
        # composable.py:84-88).  Two slim shuffles (line-df groupBy + per-doc
        # reassembly) + one AQE-decided join back by a deterministic row key.
        # Heuristic stats + scrub downstream see the CLEANED text; model
        # scores and minhash signatures keep the as-crawled extraction
        # (config.RuleProfile.boilerplate_removal docstring).
        from ..operators.boilerplate import remove_boilerplate_lines

        # content hash folded into the key (_row_key): duplicate
        # (url, warc_ts) rows share the key ONLY when their text is
        # identical, so the merged reassembly (line-deduped in
        # remove_boilerplate_lines) is byte-correct for every carrier row
        row_key = _row_key()
        cleaned = remove_boilerplate_lines(
            base.select(row_key.alias("_bp_id"), "extracted_text")
            .filter(F.col("extracted_text").isNotNull()),
            text_col="extracted_text", id_col="_bp_id",
            min_doc_freq=profile.boilerplate_min_df, persist_tracker=pins,
        )
        df = (
            df.withColumn("_bp_id", row_key)
            .join(cleaned, on="_bp_id", how="left")
            # all-boilerplate docs drop out of the reassembly: coalesce to ''
            # so they fire empty_payload (nothing left to train on); null
            # extractions stay null
            .withColumn(
                "extracted_text",
                F.when(F.col("extracted_text").isNotNull(),
                       F.coalesce(F.col("cleaned_text"), F.lit("")))
                .otherwise(F.col("extracted_text")))
            .drop("_bp_id", "cleaned_text")
        )

    if profile.span_removal:
        # ExactSubstr keep-one span removal (Lee et al. 2022 §4.1) inside
        # the main visit, after line-level boilerplate: later occurrences
        # of any >= span_k-token run are stripped.  Same join-back
        # discipline as boilerplate (sha-folded key; identical re-crawls
        # share the key and BOTH rank as the same "first occurrence", so
        # they keep/lose tokens identically) and the same content
        # contract: stats + scrub downstream see the cleaned text.
        from ..operators.spans import remove_repeated_spans

        row_key = _row_key()
        # the span operator fans its input into the window-key stream AND
        # the reassembly join; the branches prune different columns, so
        # Catalyst plans TWO near-identical dropDuplicates exchanges of the
        # full text (no ReusedExchange across differently-pruned
        # aggregates).  A lazy localCheckpoint materializes the slim
        # (id, ord, text) frame once and both branches read the blocks —
        # at corpus scale that's one text shuffle instead of two
        # (preemption caveat: session.release)
        span_input = (
            df.withColumn("_sp_id", row_key)
            .select("_sp_id", F.col("warc_ts").alias("_sp_ord"),
                    "extracted_text")
            .filter(F.col("extracted_text").isNotNull())
            .dropDuplicates(["_sp_id"])
            .localCheckpoint(eager=False)
        )
        pins.append(span_input)
        span_cleaned = remove_repeated_spans(
            span_input,
            id_col="_sp_id", text_col="extracted_text",
            k=profile.span_k, min_count=profile.span_min_count,
            order_col="_sp_ord",
            persist_tracker=pins,
        ).select("_sp_id", F.col("cleaned_text").alias("_sp_text"),
                 "removed_token_count")
        df = (
            df.withColumn("_sp_id", row_key)
            .join(span_cleaned, on="_sp_id", how="left")
            .withColumn(
                "extracted_text",
                F.when(F.col("extracted_text").isNotNull(),
                       F.coalesce(F.col("_sp_text"),
                                  F.col("extracted_text")))
                .otherwise(F.col("extracted_text")))
            # attribution: every mutation to the stored artifact is
            # auditable (the scrub_rules discipline; reference records
            # repairs, instruments.py:222-266) — an auditor distinguishes
            # "text shrank" from "span dedup fired" by this count
            .withColumn("span_removed_tokens",
                        F.coalesce(F.col("removed_token_count"),
                                   F.lit(0)).cast("bigint"))
            .drop("_sp_id", "_sp_text", "removed_token_count")
        )
    else:
        # stable decisions schema across profiles (the lang_source rule):
        # span-off runs record an explicit zero, not a missing column
        df = df.withColumn("span_removed_tokens", F.lit(0).cast("bigint"))

    # keep/drop thresholds and the stored artifact reflect trainable
    # content only: cleaned text gets its stats again, from the same kernel
    # behind one pandas UDF.
    # The scrub chain runs HERE, before the dedup join: the join's Exchange
    # is a projection barrier, so the chain evaluates exactly once per row;
    # evaluating it after the decision collapses it into the decision
    # projection and re-evaluates the rules tree per reference
    # (measured +23% job wall at 1M rows)
    if profile.boilerplate_removal or profile.span_removal:
        df = with_quality_stats(df, text_col="extracted_text",
                                lang_col="lang_pred")
    if profile.gopher_repetition_gates:
        from ..functions.quality import with_repetition_ladder

        df = with_repetition_ladder(df, text_col="extracted_text",
                                    lang_col="lang_pred")
    # continuous quality signal for downstream mixing (rides the same
    # narrow projection; sampling by score bucket happens at read time);
    # quality_weights: a train_quality_weights vector drops in here
    df = with_quality_score(df, weights=quality_weights)
    # scrub_rules attributes every mutation the scrub chain made to the
    # stored artifact (the reference records repairs rather than applying
    # them silently, instruments.py:222-266); it rides the same narrow
    # projection and is emitted for ALL rows — auditors of dropped docs see
    # what WOULD have been scrubbed
    df = df.withColumn("scrubbed_text", scrubbed(F.col("extracted_text"))) \
           .withColumn("scrub_rules",
                       scrub_rules_fired(F.col("extracted_text")))

    if profile.host_lang_backfill:
        from ..operators.hostnorm import with_host_lang_backfill

        df = with_host_lang_backfill(
            df,
            min_conf=profile.host_backfill_min_conf,
            adopt_below=profile.host_backfill_adopt_below,
        )
        adopted = F.col("lang_source") == "host_consensus"
        # adoption rescues the row from the lang_conf gate (that is its
        # point); every other gate — perplexity, heuristics — still applies,
        # and the zh word-length dispatch sees the adopted language
        df = (df.withColumn("lang_pred", F.col("lang_final"))
              .withColumn("lang_conf",
                          F.when(adopted, F.greatest(
                              F.col("lang_conf"),
                              F.lit(profile.min_lang_conf)))
                          .otherwise(F.col("lang_conf")))
              .drop("lang_final"))
    else:
        # stable decisions schema across profiles: lang_source always exists
        # (readers of a store mixing backfill-on and -off runs would otherwise
        # need mergeSchema to see the column at all)
        df = df.withColumn("lang_source", F.lit("model"))

    contam_col = None
    if benchmark is not None:
        # Benchmark decontamination as a pipeline rule (reference analogue:
        # the rejected-cache lookup before processing, cfht_name.py:560-575).
        # Grams are computed on the text the corpus would TRAIN on (post-
        # boilerplate extraction); the eval-suite gram table is bounded, so
        # the fixed-size bench bitmap + inner join filter the doc-gram
        # stream map-side before the only shuffle, the per-row overlap
        # count.  Join-back discipline (every input row appears EXACTLY
        # once in the output):
        #   * the key is _row_key (content hash folded in — url+ts alone is
        #     not unique);
        #   * only CONTAMINATED ids come back (the HAVING >= min_overlap
        #     prune — the flag table shrinks from corpus-sized to the tiny
        #     contaminated set, usually broadcastable);
        #   * .distinct() on that slim set makes the join key provably
        #     unique, so the left join can never multiply rows — duplicate
        #     keys (identical re-crawls) and 2^-64 collisions at worst add
        #     a conservative shared flag.
        from ..operators.decontam import decontaminate
        from ..operators.dedup import shingle_hash_fast

        row_key = _row_key()
        contaminated_ids = decontaminate(
            # dropDuplicates: identical re-crawls share the sha-folded key;
            # without it both rows' grams enter the overlap groupBy and a
            # doc with n true overlaps counts 2n — pushing clean docs over
            # min_overlap (decontaminate's docstring requires unique ids)
            df.select(row_key.alias("_dc_id"), "extracted_text")
            .filter(F.col("extracted_text").isNotNull())
            .dropDuplicates(["_dc_id"]),
            benchmark.select(
                F.col("text").alias("extracted_text")),
            id_col="_dc_id", text_col="extracted_text",
            k=profile.decontam_k,
            min_overlap=profile.decontam_min_overlap,
            hash_fn=shingle_hash_fast, persist_tracker=pins,
        ).filter(F.col("contaminated")).select("_dc_id").distinct()
        df = (
            df.withColumn("_dc_id", row_key)
            .join(contaminated_ids.withColumn("_contam", F.lit(True)),
                  on="_dc_id", how="left")
            .withColumn("_contam",
                        F.coalesce(F.col("_contam"), F.lit(False)))
            .drop("_dc_id")
        )
        contam_col = "_contam"

    contam_fuzzy_col = None
    if benchmark is not None and profile.decontam_fuzzy:
        # Second decontamination tier: paraphrased eval leakage (a one-token
        # edit destroys every covering exact 13-gram but barely moves the
        # shingle Jaccard) flags on MinHash signature agreement instead.
        # Same join-back discipline as the exact tier above; the flagged set
        # is again tiny, so the left join AQE-broadcasts.
        from ..operators.decontam import fuzzy_decontaminate
        from ..operators.dedup import shingle_hash_fast

        row_key = _row_key()
        fuzzy_ids = fuzzy_decontaminate(
            df.select(row_key.alias("_dcf_id"), "extracted_text")
            .filter(F.col("extracted_text").isNotNull())
            .dropDuplicates(["_dcf_id"]),
            benchmark.select(
                F.col("text").alias("extracted_text")
            ).withColumn("_dcf_id", F.monotonically_increasing_id()),
            id_col="_dcf_id", text_col="extracted_text",
            bands=profile.decontam_fuzzy_bands,
            rows_per_band=profile.decontam_fuzzy_rows,
            min_est_jaccard=profile.decontam_fuzzy_min_jaccard,
            hash_fn=shingle_hash_fast, persist_tracker=pins,
        ).select("_dcf_id").distinct()
        df = (
            df.withColumn("_dcf_id", row_key)
            .join(fuzzy_ids.withColumn("_contam_fuzzy", F.lit(True)),
                  on="_dcf_id", how="left")
            .withColumn("_contam_fuzzy",
                        F.coalesce(F.col("_contam_fuzzy"), F.lit(False)))
            .drop("_dcf_id")
        )
        contam_fuzzy_col = "_contam_fuzzy"

    near_dup_col = None
    exact_dup_col = None
    if dedupe:
        # All duplicate flags are computed on SLIM projections (id, order,
        # sha, signature) and joined back ONCE with no broadcast hint: the
        # loser set is unbounded at crawl scale (30%+ of pages are exact
        # dups), so a mandatory broadcast of it OOMs executors at 100 TB.
        # AQE broadcasts when the runtime size allows and falls back to a
        # shuffle join otherwise — one fat-frame shuffle worst-case, bounded
        # memory always.
        from pyspark.sql import Window as _W

        slim_cols = ["url", "warc_ts", "extracted_sha256", "minhash_sig"]
        # exact-duplicate collapse FIRST (by extraction sha256): every
        # exact-dup group of size m would otherwise contribute m^2/2 pairs to
        # EVERY minhash band (the one join blow-up AQE can't fully save);
        # after this, minhash sees one canonical doc per content hash.
        # Identity granularity is the url (re-arrivals share the id): take
        # the first contentful arrival per url, THEN rank those canonicals by
        # content hash — a url whose content equals an earlier url's is an
        # exact duplicate.
        alive = base.select(*slim_cols).filter(
            F.col("extracted_sha256").isNotNull())
        # the content hash breaks (url, warc_ts) ties: two arrivals of one
        # url may share both with different content (_row_key), and an
        # arbitrary pick would make the url's exact_duplicate flag depend
        # on partition order
        w_url = _W.partitionBy("url").orderBy("warc_ts", "extracted_sha256")
        canonical = alive.withColumn("_url_rn", F.row_number().over(w_url)) \
            .filter(F.col("_url_rn") == 1).drop("_url_rn")
        w_sha = _W.partitionBy("extracted_sha256").orderBy("warc_ts", "url")
        # both windows run ONCE: the exact losers and the minhash candidates
        # read the same ranked rows.  Left lazy, each branch would re-run
        # both window shuffles; a lazy persist would cost one cache-read job
        # per branch (preemption caveat: session.release)
        ranked = canonical.withColumn("_sha_rn", F.row_number().over(w_sha)) \
            .localCheckpoint(eager=True)
        pins.append(ranked)
        exact_losers = ranked.filter(F.col("_sha_rn") > 1).select(
            F.col("url"), F.lit("exact").alias("_dup_kind"))

        # the single wide dependency: banded minhash self-join over one
        # canonical doc per content hash
        candidates = ranked.filter(F.col("_sha_rn") == 1).drop("_sha_rn")
        losers = minhash_losers_from_sig(
            candidates, id_col="url", order_col="warc_ts",
            bands=profile.minhash_bands,
            rows_per_band=profile.minhash_rows_per_band,
            threshold=profile.dedup_jaccard,
            policy=profile.dedup_policy,
            persist_tracker=pins,
        )
        near_losers = losers.select(
            F.col("loser_id").alias("url"), F.lit("near").alias("_dup_kind"))
        # near losers were drawn from exact winners, so the two sets are
        # disjoint and the union stays <=1 row per url — one join, not two
        all_losers = exact_losers.unionByName(near_losers)
        df = (df.join(all_losers, on="url", how="left")
              .withColumn("_exact_dup",
                          F.coalesce(F.col("_dup_kind") == "exact", F.lit(False)))
              .withColumn("_near_dup",
                          F.coalesce(F.col("_dup_kind") == "near", F.lit(False)))
              .drop("_dup_kind"))
        exact_dup_col = "_exact_dup"
        near_dup_col = "_near_dup"

    df = with_decision(df, profile, near_dup_col=near_dup_col,
                       exact_dup_col=exact_dup_col,
                       contaminated_col=contam_col,
                       contaminated_fuzzy_col=contam_fuzzy_col)
    # scrubbed text is the stored artifact only for kept docs (S10 analogue)
    out_cols = [c for c in OUTPUT_COLUMNS if c in df.columns]
    return df.select(*out_cols).withColumn(
        "scrubbed_text", F.when(F.col("keep"), F.col("scrubbed_text"))
    )


def run_batch(spark: SparkSession, pages: DataFrame, out_dir: str,
              profile: RuleProfile = DEFAULT_PROFILE,
              snapshot_id: int = 0, resume: bool = True,
              dedupe: bool = True, previews: bool = True,
              benchmark: DataFrame | None = None,
              quality_weights: dict | None = None,
              ppl_model=None) -> dict:
    """Materializing driver: resume filter -> pipeline -> decisions +
    previews + lineage.  Decisions are written partitioned by day with
    dynamic partition overwrite, so re-running a day is idempotent
    (exactly-once effect under at-least-once execution — SURVEY §7.4 hard
    part (4)).  Previews (S11 derived artifacts) are projected from the
    just-written day partitions — a narrow read-back, no pipeline recompute.

    Every fixed step runs once: the row count, the kept count and the list
    of days written ride the write's Observation, so ``work`` is evaluated
    by the write alone.  Only a resume against an existing lineage store
    probes ``work`` first, so a run with nothing left to do stays cheap."""
    lineage_path = f"{out_dir}/lineage"
    decisions_path = f"{out_dir}/decisions"
    work = pages
    lineage = read_store(spark, lineage_path) if resume else None
    if lineage is not None:
        work = pending_work(pages, lineage, snapshot_id=snapshot_id)
        if work.isEmpty():
            return {"processed": 0, "partitions": 0}

    from pyspark.sql import Observation

    # the pins are taken while the plan is built and read by the write
    # alone; they are released even when the build or the write fails
    pinned: list = []
    try:
        decisions = build_pipeline(work, spark, profile, dedupe=dedupe,
                                   persist_tracker=pinned,
                                   benchmark=benchmark,
                                   quality_weights=quality_weights,
                                   ppl_model=ppl_model)
        decisions = decisions.withColumn("p_day", partition_id_col())
        # free metrics riding the write action (A6) — no second pass over
        # the data.  collect_set skips NULL, so rows with no day are
        # flagged apart.
        obs = Observation("pipeline_metrics")
        decisions = decisions.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
            F.collect_set("p_day").alias("days"),
            F.bool_or(F.col("p_day").isNull()).alias("null_day"),
        )
        (decisions.write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")  # scoped to THIS write
         .partitionBy("p_day").parquet(decisions_path))
        metrics = obs.get
    finally:
        release(pinned)
    if metrics["n"] == 0:
        return {"processed": 0, "partitions": 0}

    # read-back restricted to the days just written: p_day is the partition
    # column, so the isin filter partition-prunes at planning time and the
    # downstream aggregates column-prune to the few columns they touch
    done_days = metrics["days"]
    fresh = spark.read.parquet(decisions_path).filter(
        F.col("p_day").isin(done_days))
    if previews:
        from ..operators.preview import write_previews

        write_previews(fresh, f"{out_dir}/previews")
    lin = lineage_rows(fresh, profile, snapshot_id)
    write_lineage(lin, lineage_path)
    return {"processed": metrics["n"], "kept": metrics["kept"],
            "partitions": len(done_days) + bool(metrics["null_day"])}
