"""Thin CLI over the engine — the ``pedsnetdcc`` command surface mapped
to parquet namespace directories.

The reference's entire UX is a Click command tree (reference:
pedsnetdcc/main.py:78-3102); each verb below is the Spark analog of one
of its commands, wired straight into the library operators:

| verb                     | reference command (main.py)            |
|--------------------------|----------------------------------------|
| transform                | transform:341                          |
| merge                    | merge:716                              |
| condition-era / drug-era | run_condition_era:1967, run_drug_era:1702 |
| sync-observation-period  | sync_observation_period:131            |
| subset-by-cohort         | subset_by_cohort:2900                  |
| subset-pcornet           | subset_pcornet_by_cohort:2976          |
| check-fact-relationship  | check_fact_relationship:169            |
| undo                     | transform's undo path (transform_runner.py:1562) |

A namespace is a directory of parquet tables (``<dir>/<table>/`` or the
flat ``<dir>/<table>.parquet``); outputs go through ``TableStore``'s
staged atomic publish, mirroring the reference's transactional schema
swap.  Usage: ``python -m pedsnetdcc_spark.cli <verb> --help``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession

VOCAB_TABLES = {"concept", "concept_ancestor", "vocabulary"}
SYSTEM_TABLES = {"person"}


def _session(args: argparse.Namespace) -> SparkSession:
    from pedsnetdcc_spark.session import build_session

    return build_session(app_name=f"pedsnetdcc_spark_{args.verb}")


def _tables_in(ns: str) -> list[str]:
    names = []
    for entry in sorted(os.listdir(ns)):
        path = os.path.join(ns, entry)
        if entry.endswith(".parquet") and os.path.isfile(path):
            names.append(entry[: -len(".parquet")])
        elif (
            os.path.isdir(path)
            and not entry.startswith("_")
            # TableStore swap-in-progress artifacts, not tables
            and ".replace." not in entry
            and not entry.endswith(".prereplace")
        ):
            names.append(entry)
    return names


def _read(spark: SparkSession, ns: str, name: str) -> DataFrame:
    from pedsnetdcc_spark.sources.io import read_table

    return read_table(spark, ns, name)


def _publish(spark: SparkSession, out: str, frames: dict[str, DataFrame]) -> None:
    from pedsnetdcc_spark.sources.io import TableStore

    store = TableStore(out)
    for name, df in frames.items():
        store.stage(df, name)
    store.publish()
    print(json.dumps({"published": sorted(frames), "out": store.current_dir}))


def cmd_transform(args: argparse.Namespace) -> int:
    """Age → ConceptName → SiteName over every non-vocab table present
    (cdm.transform_cdm_table; reference transform_runner.py:434-99)."""
    from pedsnetdcc_spark.cdm import transform_cdm_table

    spark = _session(args)
    person = _read(spark, args.input, "person")
    concept = _read(spark, args.input, "concept")
    out: dict[str, DataFrame] = {}
    for name in _tables_in(args.input):
        if name in VOCAB_TABLES:
            continue
        df = _read(spark, args.input, name)
        if name in SYSTEM_TABLES:
            out[name] = df
        else:
            out[name] = transform_cdm_table(df, name, person, concept, args.site)
    _publish(spark, args.output, out)
    return 0


def cmd_merge(args: argparse.Namespace) -> int:
    """UNION ALL of each table across site namespaces
    (operators/merge.merge_sites; reference merge_site_data.py:81-207)."""
    from pedsnetdcc_spark.operators.merge import merge_sites

    spark = _session(args)
    sites = dict(pair.split("=", 1) for pair in args.site)
    tables: set[str] = set()
    for ns in sites.values():
        tables.update(_tables_in(ns))
    out = {
        t: merge_sites(
            [(s, _read(spark, ns, t)) for s, ns in sorted(sites.items())
             if t in _tables_in(ns)]
        )
        for t in sorted(tables)
    }
    _publish(spark, args.output, out)
    return 0


def cmd_condition_era(args: argparse.Namespace) -> int:
    from pedsnetdcc_spark.cdm import derive_condition_era

    spark = _session(args)
    co = _read(spark, args.input, "condition_occurrence")
    _publish(spark, args.output, {"condition_era": derive_condition_era(co)})
    return 0


def cmd_drug_era(args: argparse.Namespace) -> int:
    from pedsnetdcc_spark.cdm import derive_drug_era

    spark = _session(args)
    era = derive_drug_era(
        _read(spark, args.input, "drug_exposure"),
        _read(spark, args.input, "concept"),
        _read(spark, args.input, "concept_ancestor"),
        concept_class="Clinical Drug Form" if args.scdf else "Ingredient",
    )
    name = "drug_scdf_era" if args.scdf else "drug_era"
    _publish(spark, args.output, {name: era})
    return 0


def cmd_sync_observation_period(args: argparse.Namespace) -> int:
    from pedsnetdcc_spark.cdm import OBS_PERIOD_DOMAINS, derive_observation_period
    from pedsnetdcc_spark.util import release_cached

    spark = _session(args)
    present = {
        n: _read(spark, args.input, n)
        for n in OBS_PERIOD_DOMAINS
        if n in _tables_in(args.input)
    }
    period = derive_observation_period(present)
    _publish(spark, args.output, {"observation_period": period})
    release_cached(period)  # the id assigner's cached relation
    return 0


def cmd_subset_by_cohort(args: argparse.Namespace) -> int:
    from pedsnetdcc_spark.operators.cohort import subset_by_cohort

    spark = _session(args)
    cohort = _read(spark, args.cohort_dir, args.cohort_table)
    out = {}
    for name in _tables_in(args.input):
        df = _read(spark, args.input, name)
        if name in VOCAB_TABLES or args.key not in df.columns:
            out[name] = df  # vocab and keyless tables are copied whole
        else:
            out[name] = subset_by_cohort(df, cohort, args.key)
    _publish(spark, args.output, out)
    return 0


def cmd_subset_pcornet(args: argparse.Namespace) -> int:
    from pedsnetdcc_spark.pcornet import subset_pcornet

    spark = _session(args)
    tables = {n: _read(spark, args.input, n) for n in _tables_in(args.input)}
    cohort = _read(spark, args.cohort_dir, args.cohort_table)
    _publish(
        spark, args.output, subset_pcornet(tables, cohort, inc_hash=args.inc_hash)
    )
    return 0


def cmd_check_fact_relationship(args: argparse.Namespace) -> int:
    """Referential-integrity counts + deterministic exemplars for the
    polymorphic fact table, printed as JSON lines."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.operators.integrity import (
        IntegrityProbe,
        integrity_exemplars,
        referential_integrity_counts,
    )

    spark = _session(args)
    fact = _read(spark, args.input, args.fact_table)
    probes = []
    for spec in args.probe:
        name, fk, target, tk = spec.split(":")
        dom = None
        if "=" in name:
            name, code = name.split("=")
            dom = F.col(args.domain_col) == int(code)
        probes.append(
            IntegrityProbe(name, fk, _read(spark, args.input, target), tk, dom)
        )
    for row in referential_integrity_counts(fact, probes).collect():
        print(json.dumps(row.asDict()))
    for row in integrity_exemplars(fact, probes, n=args.samples).collect():
        print(json.dumps(row.asDict()))
    return 0


def cmd_undo(args: argparse.Namespace) -> int:
    from pedsnetdcc_spark.sources.io import TableStore

    TableStore(args.output).undo()
    print(json.dumps({"restored": args.output}))
    return 0


def cmd_optimize(args: argparse.Namespace) -> int:
    """Lake maintenance on a published table: small-file compaction
    (``TableStore.compact`` — the OPTIMIZE analog) and, with
    ``--cluster-by`` / ``--zorder-by``, a clustered or Z-ordered
    layout rewrite (the ``OPTIMIZE ZORDER`` / post-load index-build
    analog, reference indexes.py:202-317) through the same
    single-table atomic swap."""
    from pedsnetdcc_spark.sources.clustering import clustered_write, zorder_write
    from pedsnetdcc_spark.sources.io import TableStore

    layout_requested = bool(args.cluster_by or args.zorder_by)
    # default=None so an EXPLICIT `--target-mb 128` alongside a layout
    # rewrite errors like any other value instead of being silently
    # accepted; the 128 MB default is applied after validation
    if layout_requested and args.target_mb is not None:
        print(
            json.dumps({"error": "--target-mb applies only to compaction "
                                 "(omit --cluster-by/--zorder-by)"}),
            file=sys.stderr,
        )
        return 2
    if args.files is not None and not layout_requested:
        print(
            json.dumps({"error": "--files applies only to layout rewrites "
                                 "(use --target-mb for compaction)"}),
            file=sys.stderr,
        )
        return 2
    spark = _session(args)
    store = TableStore(args.output)
    if args.cluster_by or args.zorder_by:
        df = store.read(spark, args.table)
        if args.zorder_by:
            store.rewrite(
                args.table,
                lambda p: zorder_write(df, p, args.zorder_by, num_files=args.files),
            )
        else:
            store.rewrite(
                args.table,
                lambda p: clustered_write(df, p, args.cluster_by, num_files=args.files),
            )
        layout = {"zorder": args.zorder_by} if args.zorder_by else {
            "clustered": args.cluster_by
        }
    else:
        target_mb = 128 if args.target_mb is None else args.target_mb
        n = store.compact(
            spark, args.table, target_file_bytes=target_mb * 1024 * 1024
        )
        layout = {"compacted_files": n}
    print(json.dumps({"table": args.table, **layout}))
    return 0


def cmd_corpus_split(args: argparse.Namespace) -> int:
    """Deterministic train/val/test split of a document table."""
    from pedsnetdcc_spark.datapipe.sampling import train_val_test_split

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    out = train_val_test_split(
        docs, args.id_col, val_pct=args.val_pct, test_pct=args.test_pct,
        seed=args.seed,
    )
    frames = {
        split: out.where(out["split"] == split).drop("split")
        for split in ("train", "val", "test")
    }
    _publish(spark, args.output, frames)
    return 0


def cmd_dedup_cluster(args: argparse.Namespace) -> int:
    """Near-dup clustering: capped-Jaccard pairs → connected components
    → one canonical document per cluster."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.clusters import assign_clusters
    from pedsnetdcc_spark.datapipe.dedup import ngram_jaccard_pairs

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    pairs = ngram_jaccard_pairs(
        docs, args.id_col, args.text_col, n=args.ngram,
        threshold=args.threshold, max_df=args.max_df,
    )
    labeled = assign_clusters(docs, args.id_col, pairs)
    frames = {args.table: labeled}
    if args.keep_canonical:
        frames[args.table] = labeled.where(
            F.col(args.id_col) == F.col("cluster_id")
        )
    _publish(spark, args.output, frames)
    return 0


def cmd_decontaminate(args: argparse.Namespace) -> int:
    """Flag training documents near-duplicating an evaluation corpus;
    publish the cleaned training table."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.dedup import cross_corpus_contamination

    spark = _session(args)
    train = _read(spark, args.input, args.table)
    ev = _read(spark, args.eval_dir, args.eval_table)
    hits = cross_corpus_contamination(
        train, ev, args.id_col, args.text_col, n=args.ngram,
        threshold=args.threshold, max_df=args.max_df,
    )
    # cache + count FIRST: the anti join below re-reads the flagged set,
    # and without materialization the expensive contamination pipeline
    # would execute twice (once for the join, once for the count)
    flagged = hits.select(F.col("train_id").alias(args.id_col)).distinct().cache()
    n_flagged = flagged.count()
    clean = train.join(flagged, args.id_col, "left_anti")
    _publish(spark, args.output, {args.table: clean})
    flagged.unpersist()
    print(json.dumps({"flagged": n_flagged}))
    return 0


def cmd_profile(args: argparse.Namespace) -> int:
    """Per-column row/null/distinct profile as JSON lines
    (operators/profile.profile_table — the user-facing analog of the
    reference's VACUUM ANALYZE pass, utils.py:295-388).  ``--approx``
    switches cardinality to the HyperLogLog mode for 100 TB tables."""
    from pedsnetdcc_spark.operators.profile import profile_table

    spark = _session(args)
    tables = args.table or _tables_in(args.input)
    for name in tables:
        df = _read(spark, args.input, name)
        prof = profile_table(df, approx_distinct=args.approx, rsd=args.rsd)
        for r in prof.collect():
            print(json.dumps({"table": name, **r.asDict()}))
        if args.numeric:
            from pedsnetdcc_spark.operators.profile import numeric_profile

            try:
                rows = numeric_profile(df).collect()
            except ValueError:  # no numeric columns in this table
                continue
            for r in rows:
                print(json.dumps({"table": name, **r.asDict()}))
    return 0


def cmd_corpus_pack(args: argparse.Namespace) -> int:
    """Token-count then pack documents into fixed-budget training bins
    (datapipe/sampling.pack_sequences); publishes the input table with
    (n_tokens, shard, bin, bin_offset) appended.  With ``--bpe-merges``
    (a merge-list JSON from ``bpe-train``) budgets use the trained BPE
    vocabulary instead of whitespace counts."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.sampling import pack_sequences

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    if args.bpe_merges:
        from pedsnetdcc_spark.datapipe.bpe import bpe_token_counts

        merges = [tuple(m) for m in json.load(open(args.bpe_merges))]
        counts = bpe_token_counts(docs, args.id_col, args.text_col, merges)
        docs = docs.join(
            counts.withColumnRenamed("n_bpe_tokens", "n_tokens"), args.id_col
        )
    else:
        docs = docs.withColumn(
            "n_tokens", F.size(F.split(F.col(args.text_col), " ")).cast("long")
        )
    packed = pack_sequences(
        docs, args.id_col, "n_tokens",
        budget=args.budget, shards=args.shards, seed=args.seed,
    )
    _publish(spark, args.output, {args.table: docs.join(packed, args.id_col)})
    return 0


def cmd_corpus_shuffle(args: argparse.Namespace) -> int:
    """Deterministic epoch shuffle: append the prefix-sum delivery rank
    (datapipe/sampling.global_shuffle); a new --seed is a fresh epoch."""
    from pedsnetdcc_spark.datapipe.sampling import global_shuffle

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    _publish(
        spark, args.output,
        {args.table: global_shuffle(docs, args.id_col, seed=args.seed)},
    )
    return 0


def cmd_quality_filter(args: argparse.Namespace) -> int:
    """Gopher-rule quality filter: keep passing documents, report the
    drop count (datapipe/text.gopher_rules)."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.text import gopher_rules

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    scored = gopher_rules(
        docs, args.text_col, min_words=args.min_words
    ).cache()
    n_total = scored.count()
    kept = scored.where(F.col("passes_gopher")).drop(
        "n_words", "mean_word_len", "symbol_ratio", "alpha_word_ratio",
        "stopword_hits", "passes_gopher",
    )
    _publish(spark, args.output, {args.table: kept})
    n_kept = kept.count()
    scored.unpersist()
    print(json.dumps({"total": n_total, "kept": n_kept}))
    return 0


def cmd_quality_classifier(args: argparse.Namespace) -> int:
    """Classifier-based quality filter: distill the Gopher rule labels
    into a hashed-BOW Naive Bayes scorer, score every document, keep
    those predicted to pass — the trained-classifier curation step
    (datapipe/classifier).  Threshold 0 = the NB decision boundary;
    raise --min-score to keep only confidently-good documents."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.classifier import (
        score_with_classifier,
        train_quality_classifier,
    )
    from pedsnetdcc_spark.datapipe.text import gopher_rules, hashed_bow

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    labels = gopher_rules(docs, args.text_col).select(
        args.id_col, F.col("passes_gopher").alias("label")
    ).cache()
    # guard the GIGO seam before training: a single-class seed set
    # (every doc passes or fails the rules) makes the NB log-prior /
    # llr degenerate (Inf/NULL), scores come back NULL, the threshold
    # filter drops everything, and the verb would silently publish an
    # EMPTY corpus with exit 0
    class_counts = {
        row["label"]: row["n"]
        for row in labels.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_pass = class_counts.get(True, 0)
    n_fail = class_counts.get(False, 0)
    if n_pass == 0 or n_fail == 0:
        print(
            json.dumps({
                "error": "single-class seed set: the rule labeler must "
                         "produce both classes to train a classifier",
                "rule_pass": n_pass,
                "rule_fail": n_fail,
            }),
            file=sys.stderr,
        )
        labels.unpersist()
        return 1
    bow = hashed_bow(
        docs, args.id_col, args.text_col, dim=args.dim, seed=args.seed,
        norm="none",
    )
    model = train_quality_classifier(
        bow, labels, args.id_col, "label", dim=args.dim
    )
    scored = score_with_classifier(bow, model, args.id_col)
    # cache the slim id list so the publish write and the kept-count
    # share one execution of the train+score pipeline instead of
    # running the NB aggregates and scoring joins twice
    keep_ids = scored.where(F.col("score") > args.min_score).select(
        args.id_col
    ).cache()
    kept = docs.join(keep_ids, args.id_col, "left_semi")
    _publish(spark, args.output, {args.table: kept})
    # doc ids are unique, so |docs ⋉ keep_ids| = |keep_ids| — count the
    # cached id list, not the published join
    n_total, n_kept = docs.count(), keep_ids.count()
    keep_ids.unpersist()
    labels.unpersist()
    print(json.dumps({"total": n_total, "kept": n_kept, "dim": args.dim}))
    return 0


def cmd_passage_dedup(args: argparse.Namespace) -> int:
    """Span-level exact dedup: drop repeated fixed-token windows
    corpus-wide and reassemble documents (datapipe/dedup.passage_dedup)."""
    from pedsnetdcc_spark.datapipe.dedup import passage_dedup

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    out = passage_dedup(
        docs, args.id_col, args.text_col,
        chunk_tokens=args.chunk_tokens, keep=args.keep,
        chunking=args.chunking, min_count=args.min_count, sep=args.sep,
    )
    _publish(spark, args.output, {args.table: out})
    return 0


def cmd_media_near_dup(args: argparse.Namespace) -> int:
    """Image/audio near-duplicate pairs by perceptual hash (dHash for
    images, frame-energy fingerprint for audio) + the exact MIH Hamming
    band join (multimodal.image_near_dup_pairs / audio_near_dup_pairs).
    """
    from pedsnetdcc_spark.datapipe.multimodal import (
        audio_near_dup_pairs,
        image_near_dup_pairs,
    )

    spark = _session(args)
    media = _read(spark, args.input, args.table)
    fn = image_near_dup_pairs if args.kind == "image" else audio_near_dup_pairs
    pairs = fn(media, args.id_col, args.payload_col, max_hamming=args.max_hamming)
    if args.survivors:
        # pairs -> connected components -> one canonical row per
        # cluster (largest payload wins, id tie-break) — the full
        # dedup, not just the pair report
        from pyspark.sql import functions as F

        from pedsnetdcc_spark.datapipe.clusters import (
            assign_clusters,
            select_survivors,
        )

        labeled = assign_clusters(media, args.id_col, pairs)
        out = select_survivors(
            labeled, "cluster_id",
            [F.octet_length(args.payload_col).desc(), F.col(args.id_col)],
        )
    else:
        out = pairs
    _publish(spark, args.output, {args.table: out})
    return 0


def cmd_dup_spans(args: argparse.Namespace) -> int:
    """Exact-substring dedup (Lee et al. 2022 formulation): report the
    maximal duplicated k-token spans per document, or with ``--clean``
    cut them (keep-first/unique) and write the reassembled corpus
    (datapipe/dedup.duplicate_spans / drop_duplicate_spans)."""
    from pedsnetdcc_spark.datapipe.dedup import (
        drop_duplicate_spans,
        duplicate_spans,
    )

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    if args.clean:
        out = drop_duplicate_spans(
            docs, args.id_col, args.text_col, k=args.k,
            min_count=args.min_count, keep=args.keep, sep=args.sep,
            digest=args.digest,
        )
    else:
        out = duplicate_spans(
            docs, args.id_col, args.text_col, k=args.k,
            min_count=args.min_count, sep=args.sep, digest=args.digest,
        )
    _publish(spark, args.output, {args.table: out})
    return 0


def cmd_semantic_dedup(args: argparse.Namespace) -> int:
    """SemDeDup-style embedding dedup: seed-centroid cells →
    within-cell cosine pairs → duplicate groups; optionally keep only
    canonical vectors (datapipe/similarity.semantic_dedup)."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.similarity import semantic_dedup

    spark = _session(args)
    emb = _read(spark, args.input, args.table)
    labeled = semantic_dedup(
        emb, args.id_col, args.vec_col, k=args.cells,
        threshold=args.threshold, seed=args.seed,
    )
    if args.keep_canonical:
        labeled = labeled.where(F.col("keep"))
    _publish(spark, args.output, {args.table: labeled})
    return 0


def cmd_corpus_pipeline(args: argparse.Namespace) -> int:
    """Composed corpus assembly: Gopher quality filter → passage dedup
    → temperature mixture, published as one table with stage counts."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.dedup import passage_dedup
    from pedsnetdcc_spark.datapipe.sampling import temperature_sample
    from pedsnetdcc_spark.datapipe.text import gopher_rules

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    n_in = docs.count()
    filtered = (
        gopher_rules(docs, args.text_col, min_words=args.min_words)
        .where(F.col("passes_gopher"))
        .select(args.id_col, args.text_col, args.source_col)
    ).cache()
    n_filtered = filtered.count()
    deduped = passage_dedup(
        filtered, args.id_col, args.text_col, chunk_tokens=args.chunk_tokens
    ).join(filtered.select(args.id_col, args.source_col), args.id_col)
    # cache + count BEFORE the publish so the three-stage pipeline runs
    # once, not once for the write and again for the report
    out = temperature_sample(
        deduped, args.id_col, args.source_col,
        alpha=args.alpha, budget_frac=args.budget_frac, seed=args.seed,
    ).cache()
    n_out = out.count()
    _publish(spark, args.output, {args.table: out})
    out.unpersist()
    filtered.unpersist()
    print(json.dumps({"input": n_in, "filtered": n_filtered, "published": n_out}))
    return 0


def cmd_lm_score(args: argparse.Namespace) -> int:
    """Bigram-LM perplexity scoring: append n_tokens/sum_logp/avg_logp
    quality signals to every document (datapipe/text.lm_score)."""
    spark = _session(args)
    from pedsnetdcc_spark.datapipe.text import lm_score

    docs = _read(spark, args.input, args.table)
    scores = lm_score(docs, args.id_col, args.text_col)
    _publish(spark, args.output, {f"{args.table}_lm_scores": scores})
    return 0


def cmd_contamination_report(args: argparse.Namespace) -> int:
    """Per-document eval-overlap share of a training corpus
    (datapipe/dedup.contamination_overlap); prints the count of
    documents above the overlap threshold."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.dedup import contamination_overlap

    spark = _session(args)
    train = _read(spark, args.input, args.table)
    ev = _read(spark, args.eval_ns, args.eval_table)
    report = contamination_overlap(
        train, ev, args.id_col, args.text_col, n=args.ngram
    ).cache()
    n_flagged = report.where(F.col("overlap_frac") >= args.threshold).count()
    _publish(spark, args.output, {f"{args.table}_contamination": report})
    report.unpersist()
    print(json.dumps({"flagged": n_flagged, "threshold": args.threshold}))
    return 0


def cmd_skew_profile(args: argparse.Namespace) -> int:
    """Join-key heavy-hitter profile: top-k values with exact counts
    and share (operators/profile.key_skew_profile), one JSON line per
    key — the pre-join salting/AQE diagnostic."""
    from pedsnetdcc_spark.operators.profile import (
        heavy_hitters,
        key_skew_profile,
    )

    spark = _session(args)
    df = _read(spark, args.input, args.table)
    if args.sketch:
        rows = heavy_hitters(
            df, args.key_col, k=args.top, capacity=args.capacity
        ).collect()
    else:
        rows = key_skew_profile(df, args.key_col, k=args.top).collect()
    for r in rows:
        print(json.dumps(r.asDict()))
    return 0


def cmd_bpe_train(args: argparse.Namespace) -> int:
    """Train a BPE tokenizer on the corpus and write the ordered merge
    list as JSON; optionally publish per-document token counts under
    the trained vocabulary (datapipe/bpe)."""
    from pedsnetdcc_spark.datapipe.bpe import bpe_token_counts, train_bpe

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    merges = train_bpe(docs, args.text_col, num_merges=args.merges)
    with open(args.merges_out, "w") as f:
        json.dump([list(m) for m in merges], f)
    print(json.dumps({"merges": len(merges), "out": args.merges_out}))
    if args.output:
        counts = bpe_token_counts(docs, args.id_col, args.text_col, merges)
        _publish(spark, args.output, {f"{args.table}_bpe_counts": counts})
    return 0


def cmd_run_package(args: argparse.Namespace) -> int:
    """Run a registered external-package derivation from a
    reference-shaped JSON config file — the ``run_r_query`` command
    path (reference r_query.py:62-128 / main.py run_r_query): config
    in, derived table out, optional copy-to-output publish."""
    from pedsnetdcc_spark.plans.packages import (
        load_package_config,
        registered_packages,
        run_package_from_config,
    )

    # only CONFIG problems get the error-contract treatment; failures
    # inside the runner or the publish keep their traceback (masking a
    # half-completed publish as a config error helps nobody)
    try:
        cfg = load_package_config(args.config)
    except (ValueError, OSError, json.JSONDecodeError) as e:
        print(json.dumps({"error": str(e)}), file=sys.stderr)
        return 2
    if cfg["package"] not in registered_packages():
        print(
            json.dumps(
                {
                    "error": f"no package runner registered for {cfg['package']!r}",
                    "known": registered_packages(),
                }
            ),
            file=sys.stderr,
        )
        return 2
    spark = _session(args)
    result = run_package_from_config(spark, cfg)
    if cfg.get("copy") and cfg.get("output"):
        # count the just-published parquet — counting `result` would
        # re-run the whole derivation a second time
        published = _read(
            spark,
            os.path.join(cfg["output"], "current"),
            cfg.get("result_table", cfg["package"]),
        )
        print(json.dumps({"rows": published.count()}))
    else:
        print(json.dumps({"rows": result.count()}))
    return 0


def cmd_explain(args: argparse.Namespace) -> int:
    """Print the formatted physical plan of a registry query without
    executing it — the plan-inspection loop (pushed filters, exchanges,
    codegen spans) for any oracle-backed query by name."""
    from pedsnetdcc_spark.queries import QUERIES

    if args.query not in QUERIES:
        print(
            json.dumps({"error": "unknown query", "available": sorted(QUERIES)}),
            file=sys.stderr,
        )
        return 2
    spark = _session(args)
    df = QUERIES[args.query](spark, args.input)
    df.explain(mode=args.mode)
    return 0


def cmd_corpus_export(args: argparse.Namespace) -> int:
    """Export a namespace table as JSONL shards (sources/jsonl)."""
    from pedsnetdcc_spark.sources.jsonl import write_jsonl

    spark = _session(args)
    df = _read(spark, args.input, args.table)
    write_jsonl(
        df, args.output, compression=args.compression,
        shards=args.shards, order_col=args.order_col,
    )
    print(json.dumps({"exported": args.table, "out": args.output}))
    return 0


def cmd_corpus_import(args: argparse.Namespace) -> int:
    """Import JSONL shards into a namespace table, quarantining
    malformed lines instead of failing the scan."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.sources.jsonl import read_jsonl

    spark = _session(args)
    schema = _read(spark, args.like_ns, args.table).schema
    rows = read_jsonl(
        spark, args.input, schema, corrupt_col="_corrupt_record"
    ).cache()
    good = rows.where(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    n_bad = rows.where(F.col("_corrupt_record").isNotNull()).count()
    _publish(spark, args.output, {args.table: good})
    rows.unpersist()
    print(json.dumps({"imported": args.table, "quarantined": n_bad}))
    return 0


def cmd_wds_export(args: argparse.Namespace) -> int:
    """Export a namespace table as WebDataset tar shards
    (sources/webdataset): ``--member ext=column`` picks the per-sample
    members, ``--meta-col`` columns pack into the ``.json`` member."""
    from pedsnetdcc_spark.sources.webdataset import write_webdataset

    spark = _session(args)
    df = _read(spark, args.input, args.table)
    members = dict(m.split("=", 1) for m in args.member)
    manifest = write_webdataset(
        df, args.output, key_col=args.key_col, members=members,
        shards=args.shards, meta_cols=args.meta_col or None,
        mode="overwrite" if args.overwrite else "error",
    )
    print(
        json.dumps(
            {
                "exported": args.table,
                "out": args.output,
                "shards": len(manifest),
                "samples": sum(m["samples"] for m in manifest),
                "bytes": sum(m["bytes"] for m in manifest),
            }
        )
    )
    return 0


def cmd_wds_import(args: argparse.Namespace) -> int:
    """Import WebDataset tar shards into a namespace table; ``--text``
    extensions decode utf-8 (pass the metadata ext there and parse it
    downstream with from_json)."""
    from pedsnetdcc_spark.sources.webdataset import read_webdataset

    spark = _session(args)
    members = dict(m.split("=", 1) for m in args.member)
    df = read_webdataset(
        spark, args.input, members=members, text_exts=set(args.text or ()),
        on_error="quarantine" if args.quarantine else "fail",
    )
    _publish(spark, args.output, {args.table: df})
    # count the PUBLISHED parquet, not df: a second pass over df would
    # re-read every tar (and, under --quarantine, append duplicate rows
    # to _quarantine.jsonl — one per action over the lazy plan)
    n = _read(spark, os.path.join(args.output, "current"), args.table).count()
    print(json.dumps({"imported": args.table, "samples": n}))
    return 0


def cmd_diff(args: argparse.Namespace) -> int:
    """Report what changed between a table's published generation and
    its backup generation (the cycle-refresh report)."""
    from pedsnetdcc_spark.operators.diff import (
        diff_previous_generation,
        diff_summary,
    )
    from pedsnetdcc_spark.sources.io import TableStore

    spark = _session(args)
    store = TableStore(args.output)
    d = diff_previous_generation(
        spark, store, args.table, args.keys.split(","),
        compare_cols=args.compare.split(",") if args.compare else None,
    )
    if args.out_keys:
        # persist the full keyed classification (the re-process
        # worklist: distributed write, never collected to the driver)
        d.write.mode("overwrite").parquet(args.out_keys)
    summ = {r["change"]: r["n_keys"] for r in diff_summary(d).collect()}
    rep = {"table": args.table, "changes": summ}
    if args.out_keys:
        rep["keys_out"] = args.out_keys
    print(json.dumps(rep))
    return 0


def cmd_ann_index(args: argparse.Namespace) -> int:
    """Build the persistent IVF index (datapipe/similarity.
    build_ivf_index): codebook + corpus partitioned by cell, so query
    batches read only the probed cell directories."""
    from pedsnetdcc_spark.datapipe.similarity import build_ivf_index

    spark = _session(args)
    df = _read(spark, args.input, args.table)
    meta = build_ivf_index(
        df, args.output, id_col=args.id_col, vec_col=args.vec_col,
        n_centroids=args.cells or "auto", assign=args.assign,
        pq_m=args.pq_m, force=args.force,
    )
    print(json.dumps({"index": args.output, **meta}))
    return 0


def cmd_ann_query(args: argparse.Namespace) -> int:
    """Query a persistent IVF index: per-query top-k written as
    parquet; the scan is partition-pruned to the probed cells
    (--scoring pq: ADC over stored codes, exact re-rank)."""
    spark = _session(args)
    q = _read(spark, args.input, args.table)
    from pedsnetdcc_spark.datapipe.similarity import open_ivf_index
    hits = open_ivf_index(spark, args.index).query(
        q, k=args.k, nprobe=args.nprobe, scoring=args.scoring,
    )
    hits.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    print(json.dumps({"index": args.index, "hits": n, "out": args.output}))
    return 0


def cmd_ann_compact(args: argparse.Namespace) -> int:
    """Fold streaming epoch deltas back into the index's base cells
    (one file per cell restored; bounds the handle's listing cost).
    With --if-epochs-over / --if-frac-over the fold only runs past the
    threshold (maybe_compact_ivf_index) — the cron-able auto-compact
    policy for a continuously appending index."""
    from pedsnetdcc_spark.datapipe.similarity import (
        compact_ivf_index,
        maybe_compact_ivf_index,
    )

    spark = _session(args)
    if args.if_epochs_over is not None or args.if_frac_over is not None:
        rep = maybe_compact_ivf_index(
            spark, args.index,
            max_epochs=args.if_epochs_over,
            max_delta_fraction=args.if_frac_over,
        )
    else:
        rep = compact_ivf_index(spark, args.index)
    print(json.dumps({"index": args.index, **rep}))
    return 0


def cmd_span_index(args: argparse.Namespace) -> int:
    """Build (or append a generation to) the persisted span-digest
    index (datapipe/dedup.build_span_index / append_span_index): the
    published corpus's per-shingle digest counts — the durable state
    incremental exact-substring dedup runs against."""
    from pedsnetdcc_spark.datapipe.dedup import (
        append_span_index,
        build_span_index,
    )

    if args.append:
        # the index's meta is authoritative for an append — an
        # explicitly passed shingle flag would be silently ignored,
        # so make the conflict loud (and fast: before any read)
        explicit = [
            name
            for name, v in (
                ("--k", args.k), ("--sep", args.sep),
                ("--digest", args.digest), ("--id-col", args.id_col),
            )
            if v is not None
        ]
        if explicit:
            raise SystemExit(
                f"span-index --append takes its shingle parameters from "
                f"the index's meta.json; drop {', '.join(explicit)}"
            )
    else:
        appendish = [
            name
            for name, v in (
                ("--generation", args.generation),
                ("--auto-compact-gens", args.auto_compact_gens),
                ("--auto-compact-frac", args.auto_compact_frac),
            )
            if v is not None
        ]
        if appendish:
            raise SystemExit(
                "span-index build ignores append-only flags; drop "
                + ", ".join(appendish) + " or pass --append"
            )
    spark = _session(args)
    df = _read(spark, args.input, args.table)
    if args.append:
        rep = append_span_index(
            df, args.index, text_col=args.text_col,
            generation=args.generation,
        )
        if (args.auto_compact_gens is not None
                or args.auto_compact_frac is not None):
            from pedsnetdcc_spark.datapipe.dedup import (
                maybe_compact_span_index,
            )

            rep["auto_compact"] = maybe_compact_span_index(
                spark, args.index,
                max_generations=args.auto_compact_gens,
                max_delta_fraction=args.auto_compact_frac,
            )
    else:
        rep = build_span_index(
            df, args.index,
            args.id_col if args.id_col is not None else "doc_id",
            args.text_col,
            k=args.k if args.k is not None else 8,
            sep=args.sep if args.sep is not None else " ",
            digest=args.digest if args.digest is not None else "xxh64",
            force=args.force,
        )
    print(json.dumps({"index": args.index, **rep}))
    return 0


def cmd_span_index_compact(args: argparse.Namespace) -> int:
    """Fold generation deltas back into the span index's base keys."""
    from pedsnetdcc_spark.datapipe.dedup import compact_span_index

    spark = _session(args)
    rep = compact_span_index(spark, args.index)
    print(json.dumps({"index": args.index, **rep}))
    return 0


def cmd_span_dedup(args: argparse.Namespace) -> int:
    """Incremental exact-substring dedup of NEW documents against a
    span index: report the duplicated spans, or with --clean cut them
    (existing-corpus-wins) and write the reassembled corpus."""
    from pedsnetdcc_spark.datapipe.dedup import (
        drop_duplicate_spans_against_index,
        duplicate_spans_against_index,
    )

    spark = _session(args)
    docs = _read(spark, args.input, args.table)
    if args.clean:
        out = drop_duplicate_spans_against_index(
            docs, args.index, text_col=args.text_col,
            min_count=args.min_count,
        )
    else:
        out = duplicate_spans_against_index(
            docs, args.index, text_col=args.text_col,
            min_count=args.min_count,
        )
    _publish(spark, args.output, {args.table: out})
    return 0


def cmd_dataset_card(args: argparse.Namespace) -> int:
    """Compose the profiling/quality/dedup operators into a markdown
    dataset card — the human-readable summary published with a corpus
    release (per-source accounting, language distribution, quality
    pass rate, length distribution, duplication).  Every number comes
    from the same oracle-checked operators the pipeline runs; the card
    is presentation, not new computation.  Driver materializes only
    bounded rows (groups, languages, profile rows)."""
    from pyspark.sql import functions as F

    from pedsnetdcc_spark.datapipe.corpus import corpus_report
    from pedsnetdcc_spark.datapipe.text import gopher_rules, lang_id
    from pedsnetdcc_spark.operators.profile import numeric_profile

    spark = _session(args)
    df = _read(spark, args.input, args.table)
    tagged = lang_id(df, text_col="text")
    rep = (
        corpus_report(tagged, lang_col="lang_pred")
        .orderBy("source")
        .collect()
    )
    langs = (
        tagged.groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "lang_pred")
        .collect()
    )
    quality = (
        gopher_rules(df)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("passes_gopher").cast("long")).alias("passed"),
        )
        .first()
    )
    lengths = {
        r["column"]: r for r in numeric_profile(df, cols=["n_chars"]).collect()
    }["n_chars"]
    n_docs = sum(r["n_docs"] for r in rep)
    n_dups = sum(r["dup_docs"] for r in rep)

    if n_docs == 0:
        # numeric_profile returns null min/mean/max/percentiles on zero
        # rows and every ratio divides by n_docs — short-circuit rather
        # than format None
        lines = [f"# Dataset card: {args.table}", "", "- empty corpus", ""]
        with open(args.out, "w") as f:
            f.write("\n".join(lines))
        print(json.dumps({"card": args.out, "n_docs": 0}))
        return 0

    lines = [
        f"# Dataset card: {args.table}",
        "",
        f"- documents: **{n_docs:,}**",
        f"- whitespace tokens: **{sum(r['total_tokens'] for r in rep):,}**",
        f"- characters: **{sum(r['total_chars'] for r in rep):,}**",
        f"- exact-duplicate documents: **{n_dups:,}**"
        f" ({n_dups / n_docs:.2%})" if n_docs else "- empty corpus",
        f"- Gopher quality pass rate: **{quality['passed'] / quality['n']:.2%}**"
        if quality["n"]
        else "",
        "",
        "## Per-source",
        "",
        "| source | docs | tokens | chars | langs | dup docs |",
        "|---|---|---|---|---|---|",
    ]
    for r in rep:
        lines.append(
            f"| {r['source']} | {r['n_docs']:,} | {r['total_tokens']:,} | "
            f"{r['total_chars']:,} | {r['n_langs']} | {r['dup_docs']:,} |"
        )
    lines += ["", "## Language distribution (stopword-profile ID)", ""]
    lines += [f"- {r['lang_pred']}: {r['n']:,}" for r in langs]
    pcts = [c for c in lengths.asDict() if c.startswith("p")]
    lines += [
        "",
        "## Document length (characters)",
        "",
        f"- min {lengths['min']:.0f} / mean {lengths['mean']:.1f} / "
        f"max {lengths['max']:.0f}",
        "- percentiles: "
        + ", ".join(f"{c}={lengths[c]:.0f}" for c in sorted(pcts)),
        "",
    ]
    with open(args.out, "w") as f:
        f.write("\n".join(lines))
    print(json.dumps({"card": args.out, "n_docs": n_docs}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="pedsnetdcc-spark", description=__doc__.split("\n")[0]
    )
    sub = p.add_subparsers(dest="verb", required=True)

    def ns(sp, output=True):
        sp.add_argument("--input", "-i", required=True, help="input namespace dir")
        if output:
            sp.add_argument("--output", "-o", required=True, help="output store root")

    sp = sub.add_parser("transform", help="Age/ConceptName/SiteName chain")
    ns(sp)
    sp.add_argument("--site", required=True)
    sp.set_defaults(fn=cmd_transform)

    sp = sub.add_parser("merge", help="multi-site UNION ALL merge")
    sp.add_argument("--site", action="append", required=True, metavar="NAME=DIR")
    sp.add_argument("--output", "-o", required=True)
    sp.set_defaults(fn=cmd_merge)

    sp = sub.add_parser("condition-era", help="30-day-gap condition eras")
    ns(sp)
    sp.set_defaults(fn=cmd_condition_era)

    sp = sub.add_parser("drug-era", help="RxNorm rollup drug eras")
    ns(sp)
    sp.add_argument("--scdf", action="store_true", help="Clinical Drug Form rollup")
    sp.set_defaults(fn=cmd_drug_era)

    sp = sub.add_parser("sync-observation-period", help="per-person min/max periods")
    ns(sp)
    sp.set_defaults(fn=cmd_sync_observation_period)

    sp = sub.add_parser("subset-by-cohort", help="semi-join every table to a cohort")
    ns(sp)
    sp.add_argument("--cohort-dir", required=True)
    sp.add_argument("--cohort-table", default="cohort")
    sp.add_argument("--key", default="person_id")
    sp.set_defaults(fn=cmd_subset_by_cohort)

    sp = sub.add_parser("subset-pcornet", help="PCORnet patid subset composition")
    ns(sp)
    sp.add_argument("--cohort-dir", required=True)
    sp.add_argument("--cohort-table", default="cohort")
    sp.add_argument("--inc-hash", action="store_true")
    sp.set_defaults(fn=cmd_subset_pcornet)

    sp = sub.add_parser(
        "check-fact-relationship", help="integrity counts + exemplars (JSON lines)"
    )
    ns(sp, output=False)
    sp.add_argument("--fact-table", default="fact_relationship")
    sp.add_argument("--domain-col", default="domain_concept_id_1")
    sp.add_argument(
        "--probe", action="append", required=True,
        metavar="NAME[=DOMAINCODE]:FKCOL:TARGET:TARGETKEY",
    )
    sp.add_argument("--samples", type=int, default=1)
    sp.set_defaults(fn=cmd_check_fact_relationship)

    sp = sub.add_parser("corpus-split", help="deterministic train/val/test split")
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--val-pct", type=int, default=10)
    sp.add_argument("--test-pct", type=int, default=10)
    sp.add_argument("--seed", type=int, default=0)
    sp.set_defaults(fn=cmd_corpus_split)

    sp = sub.add_parser("dedup-cluster", help="near-dup clusters, optional canonical-only")
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--ngram", type=int, default=3)
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.add_argument("--max-df", type=int, default=10000)
    sp.add_argument("--keep-canonical", action="store_true")
    sp.set_defaults(fn=cmd_dedup_cluster)

    sp = sub.add_parser("decontaminate", help="drop train docs near-duplicating an eval corpus")
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--eval-dir", required=True)
    sp.add_argument("--eval-table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--ngram", type=int, default=3)
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.add_argument("--max-df", type=int, default=10000)
    sp.set_defaults(fn=cmd_decontaminate)

    sp = sub.add_parser("profile", help="per-column row/null/distinct profile (JSON lines)")
    ns(sp, output=False)
    sp.add_argument("--table", action="append", help="repeatable; default: all tables")
    sp.add_argument("--approx", action="store_true", help="HyperLogLog cardinality")
    sp.add_argument("--rsd", type=float, default=0.05)
    sp.add_argument("--numeric", action="store_true",
                    help="also emit numeric min/max/mean/percentile rows")
    sp.set_defaults(fn=cmd_profile)

    sp = sub.add_parser("corpus-pack", help="pack documents into fixed-token-budget bins")
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--budget", type=int, default=2048)
    sp.add_argument("--shards", type=int, default=32)
    sp.add_argument("--seed", type=int, default=0)
    sp.add_argument("--bpe-merges", default=None,
                    help="merge-list JSON from bpe-train: budget in BPE tokens")
    sp.set_defaults(fn=cmd_corpus_pack)

    sp = sub.add_parser("corpus-shuffle", help="deterministic epoch-shuffle rank")
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--seed", type=int, default=0)
    sp.set_defaults(fn=cmd_corpus_shuffle)

    sp = sub.add_parser("quality-filter", help="Gopher-rule document quality filter")
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--min-words", type=int, default=30)
    sp.set_defaults(fn=cmd_quality_filter)

    sp = sub.add_parser(
        "quality-classifier",
        help="NB classifier distilled from rule labels; keep score > threshold",
    )
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--dim", type=int, default=512)
    sp.add_argument("--seed", type=int, default=0)
    sp.add_argument("--min-score", type=float, default=0.0)
    sp.set_defaults(fn=cmd_quality_classifier)

    sp = sub.add_parser("passage-dedup", help="drop repeated token windows corpus-wide")
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--chunk-tokens", type=int, default=32)
    sp.add_argument("--keep", choices=("first", "unique"), default="first")
    sp.add_argument("--chunking", choices=("fixed", "cdc", "sep"), default="fixed",
                    help="cdc = content-defined boundaries (shift-robust); "
                    "sep = literal-separator lines (C4/RefinedWeb)")
    sp.add_argument("--sep", default="\n",
                    help="separator for --chunking sep (literal, default newline)")
    sp.add_argument("--min-count", type=int, default=2,
                    help="a passage is repeated when it occurs >= this many times")
    sp.set_defaults(fn=cmd_passage_dedup)

    sp = sub.add_parser(
        "media-near-dup",
        help="image/audio near-dup pairs by perceptual hash + Hamming join",
    )
    ns(sp)
    sp.add_argument("--table", default="images")
    sp.add_argument("--kind", choices=("image", "audio"), default="image")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--payload-col", default="payload")
    sp.add_argument("--max-hamming", type=int, default=6)
    sp.add_argument(
        "--survivors", action="store_true",
        help="write the clustered table with one flagged survivor per "
        "near-dup cluster instead of the raw pair report",
    )
    sp.set_defaults(fn=cmd_media_near_dup)

    sp = sub.add_parser(
        "dup-spans",
        help="exact-substring duplicate spans (report, or --clean to cut them)",
    )
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--k", type=int, default=8, help="shingle length in tokens")
    sp.add_argument("--min-count", type=int, default=2)
    sp.add_argument(
        "--clean", action="store_true",
        help="write the cleaned corpus instead of the span report",
    )
    sp.add_argument("--keep", choices=("first", "unique"), default="first")
    sp.add_argument("--sep", default=" ", help="token separator (literal)")
    sp.add_argument(
        "--digest", choices=("md5", "xxh64"), default="xxh64",
        help="shingle digest: md5 (exact, oracle-replayable) or xxh64 "
        "(native-width token-hash slices, the scan-stage mode — "
        "measured faster at every k; see SCALE.md round 11)",
    )
    sp.set_defaults(fn=cmd_dup_spans)

    sp = sub.add_parser("semantic-dedup", help="embedding cell dedup with canonical keep")
    ns(sp)
    sp.add_argument("--table", default="embeddings")
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument(
        "--cells", default="auto",
        type=lambda s: s if s == "auto" else int(s),
        help="cell count, or 'auto' to size the grid from the data",
    )
    sp.add_argument("--threshold", type=float, default=0.45)
    sp.add_argument("--seed", type=int, default=0)
    sp.add_argument("--keep-canonical", action="store_true")
    sp.set_defaults(fn=cmd_semantic_dedup)

    sp = sub.add_parser(
        "corpus-pipeline",
        help="quality filter -> passage dedup -> temperature mix, one publish",
    )
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--source-col", default="source")
    sp.add_argument("--min-words", type=int, default=30)
    sp.add_argument("--chunk-tokens", type=int, default=32)
    sp.add_argument("--alpha", type=float, default=0.5)
    sp.add_argument("--budget-frac", type=float, default=0.5)
    sp.add_argument("--seed", type=int, default=0)
    sp.set_defaults(fn=cmd_corpus_pipeline)

    sp = sub.add_parser("lm-score", help="bigram-LM perplexity quality signals")
    ns(sp)
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.set_defaults(fn=cmd_lm_score)

    sp = sub.add_parser(
        "contamination-report", help="per-doc eval-overlap share of a train corpus"
    )
    ns(sp)
    sp.add_argument("--eval-ns", required=True, help="eval corpus namespace dir")
    sp.add_argument("--eval-table", default="documents")
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--ngram", type=int, default=3)
    sp.add_argument("--threshold", type=float, default=0.5)
    sp.set_defaults(fn=cmd_contamination_report)

    sp = sub.add_parser("skew-profile", help="top-k heavy-hitter keys (JSON lines)")
    ns(sp, output=False)
    sp.add_argument("--table", required=True)
    sp.add_argument("--key-col", required=True)
    sp.add_argument("--top", type=int, default=10)
    sp.add_argument("--sketch", action="store_true",
                    help="bounded-state Misra-Gries path for "
                    "billion-distinct key columns")
    sp.add_argument("--capacity", type=int, default=4096)
    sp.set_defaults(fn=cmd_skew_profile)

    sp = sub.add_parser("bpe-train", help="train a BPE tokenizer; write merges JSON")
    sp.add_argument("--input", "-i", required=True, help="input namespace dir")
    sp.add_argument("--output", "-o", default=None,
                    help="optional store root for per-doc token counts")
    sp.add_argument("--merges-out", required=True, help="merge-list JSON path")
    sp.add_argument("--table", default="documents")
    sp.add_argument("--id-col", default="doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--merges", type=int, default=32)
    sp.set_defaults(fn=cmd_bpe_train)

    sp = sub.add_parser(
        "optimize", help="compact or re-cluster a published table"
    )
    sp.add_argument("--output", "-o", required=True, help="TableStore root dir")
    sp.add_argument("--table", "-t", required=True)
    sp.add_argument("--target-mb", type=int, default=None,
                    help="compaction target file size (MB, default 128)")
    grp = sp.add_mutually_exclusive_group()
    grp.add_argument("--cluster-by", nargs="+", default=None,
                     help="rewrite range-clustered on these columns")
    grp.add_argument("--zorder-by", nargs="+", default=None,
                     help="rewrite Z-ordered on these columns")
    sp.add_argument("--files", type=int, default=None,
                    help="output file count for layout rewrites")
    sp.set_defaults(fn=cmd_optimize)

    sp = sub.add_parser(
        "run-package", help="run a registered package from a JSON config file"
    )
    sp.add_argument("--config", "-c", required=True, help="package config JSON path")
    sp.set_defaults(fn=cmd_run_package)

    sp = sub.add_parser("explain", help="print a registry query's physical plan")
    sp.add_argument("--input", "-i", required=True, help="input namespace dir")
    sp.add_argument("--query", "-q", required=True, help="registry query name")
    sp.add_argument("--mode", default="formatted",
                    choices=("simple", "extended", "formatted", "cost", "codegen"))
    sp.set_defaults(fn=cmd_explain)

    sp = sub.add_parser("corpus-export", help="export a table as JSONL shards")
    sp.add_argument("--input", "-i", required=True, help="input namespace dir")
    sp.add_argument("--output", "-o", required=True, help="JSONL output dir")
    sp.add_argument("--table", default="documents")
    sp.add_argument("--compression", default="gzip")
    sp.add_argument("--shards", type=int, default=None)
    sp.add_argument("--order-col", default=None)
    sp.set_defaults(fn=cmd_corpus_export)

    sp = sub.add_parser("corpus-import", help="import JSONL shards (quarantines bad lines)")
    sp.add_argument("--input", "-i", required=True, help="JSONL input dir")
    sp.add_argument("--output", "-o", required=True, help="output store root")
    sp.add_argument("--like-ns", required=True,
                    help="namespace whose table supplies the schema")
    sp.add_argument("--table", default="documents")
    sp.set_defaults(fn=cmd_corpus_import)

    sp = sub.add_parser(
        "wds-export", help="export a table as WebDataset tar shards"
    )
    sp.add_argument("--input", "-i", required=True, help="input namespace dir")
    sp.add_argument("--output", "-o", required=True, help="shard output dir")
    sp.add_argument("--table", default="documents")
    sp.add_argument("--key-col", default="doc_id")
    sp.add_argument(
        "--member", action="append", required=True, metavar="EXT=COLUMN",
        help="tar member extension=source column (repeatable)",
    )
    sp.add_argument("--meta-col", action="append", metavar="COLUMN",
                    help="column packed into the .json member (repeatable)")
    sp.add_argument("--shards", type=int, default=16)
    sp.add_argument(
        "--overwrite", action="store_true",
        help="replace an existing export (default refuses: stale shards "
        "absent from a rewritten manifest are undetectable on read)",
    )
    sp.set_defaults(fn=cmd_wds_export)

    sp = sub.add_parser(
        "wds-import", help="import WebDataset tar shards into a table"
    )
    sp.add_argument("--input", "-i", required=True, help="shard input dir")
    sp.add_argument("--output", "-o", required=True, help="output store root")
    sp.add_argument("--table", default="documents")
    sp.add_argument(
        "--member", action="append", required=True, metavar="EXT=COLUMN",
        help="tar member extension=output column (repeatable)",
    )
    sp.add_argument("--text", action="append", metavar="EXT",
                    help="extensions decoded utf-8 to string (repeatable)")
    sp.add_argument(
        "--quarantine", action="store_true",
        help="keep decodable prefixes of corrupt shards and log them to "
        "_quarantine.jsonl instead of failing (the jsonl corpus-import "
        "posture for tars)",
    )
    sp.set_defaults(fn=cmd_wds_import)

    sp = sub.add_parser(
        "dataset-card", help="markdown corpus summary (accounting, "
        "languages, quality, lengths, duplication)"
    )
    sp.add_argument("--input", "-i", required=True, help="input namespace dir")
    sp.add_argument("--table", default="documents")
    sp.add_argument("--out", required=True, help="markdown output path")
    sp.set_defaults(fn=cmd_dataset_card)

    sp = sub.add_parser(
        "ann-index",
        help="build a persistent IVF index (cells partitioned on disk)",
    )
    sp.add_argument("--input", "-i", required=True, help="input namespace dir")
    sp.add_argument("--output", "-o", required=True, help="index root dir")
    sp.add_argument("--table", default="embeddings")
    sp.add_argument("--id-col", default="vec_id")
    sp.add_argument("--vec-col", default="embedding")
    sp.add_argument("--cells", type=int, default=None,
                    help="cell count (default: auto-sized from the corpus)")
    sp.add_argument("--assign", choices=["flat", "hierarchical"],
                    default="hierarchical")
    sp.add_argument("--pq-m", type=int, default=None,
                    help="store m-subspace PQ codes in the cells (IVF-PQ: "
                    "ann-query --scoring pq reads codes, not vectors)")
    sp.add_argument(
        "--force", action="store_true",
        help="replace a non-empty --output directory that does not "
        "look like an IVF index (default: refuse)",
    )
    sp.set_defaults(fn=cmd_ann_index)

    sp = sub.add_parser(
        "ann-query",
        help="top-k query batch against an ann-index (partition-pruned)",
    )
    sp.add_argument("--input", "-i", required=True,
                    help="namespace dir holding the query table")
    sp.add_argument("--index", required=True, help="ann-index root dir")
    sp.add_argument("--output", "-o", required=True, help="hits parquet dir")
    sp.add_argument("--table", default="embeddings")
    sp.add_argument("-k", type=int, default=5)
    sp.add_argument("--nprobe", type=int, default=4)
    sp.add_argument("--scoring", choices=["exact", "pq"], default="exact")
    sp.set_defaults(fn=cmd_ann_query)

    sp = sub.add_parser(
        "ann-compact",
        help="fold streaming epoch deltas back into an ann-index base "
        "(unconditionally, or only past --if-epochs-over/--if-frac-over "
        "thresholds — the cron-able auto-compact policy)",
    )
    sp.add_argument("--index", required=True, help="ann-index root dir")
    sp.add_argument(
        "--if-epochs-over", type=int, default=None,
        help="only compact if committed epoch deltas exceed N",
    )
    sp.add_argument(
        "--if-frac-over", type=float, default=None,
        help="only compact if delta bytes exceed this fraction of the "
        "base cells/",
    )
    sp.set_defaults(fn=cmd_ann_compact)

    sp = sub.add_parser(
        "span-index",
        help="build (or --append a generation to) the span-digest index",
    )
    sp.add_argument("--input", "-i", required=True, help="input namespace dir")
    sp.add_argument("--index", required=True, help="index root dir")
    sp.add_argument("--table", default="documents")
    # None defaults so --append can detect (and reject) explicitly
    # passed shingle flags; build fills doc_id/8/' '/xxh64
    sp.add_argument("--id-col", default=None, help="build default: doc_id")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--k", type=int, default=None,
                    help="shingle length in tokens (build default: 8)")
    sp.add_argument("--sep", default=None,
                    help="token separator, literal (build default: ' ')")
    sp.add_argument("--digest", choices=("md5", "xxh64"), default=None,
                    help="build default: xxh64")
    sp.add_argument(
        "--append", action="store_true",
        help="fold this table in as a new generation delta (shingle "
        "parameters come from the index's meta)",
    )
    sp.add_argument(
        "--generation", type=int, default=None,
        help="--append only: explicit generation tag for at-least-once "
        "retries (a retried append REPLACES this generation instead of "
        "duplicating it)",
    )
    sp.add_argument(
        "--auto-compact-gens", type=int, default=None,
        help="--append only: fold the deltas after this append if "
        "committed generations exceed N (bounds the per-read "
        "re-aggregation a never-compacting appender causes)",
    )
    sp.add_argument(
        "--auto-compact-frac", type=float, default=None,
        help="--append only: fold if delta bytes exceed this fraction "
        "of the base keys/",
    )
    sp.add_argument(
        "--force", action="store_true",
        help="build only: replace a non-empty --index directory that "
        "does not look like a span index (default: refuse)",
    )
    sp.set_defaults(fn=cmd_span_index)

    sp = sub.add_parser(
        "span-index-compact",
        help="fold generation deltas back into the span index base",
    )
    sp.add_argument("--index", required=True, help="index root dir")
    sp.set_defaults(fn=cmd_span_index_compact)

    sp = sub.add_parser(
        "span-dedup",
        help="incremental exact-substring dedup against a span index "
        "(report, or --clean to cut; existing corpus wins)",
    )
    ns(sp)
    sp.add_argument("--index", required=True, help="index root dir")
    sp.add_argument("--table", default="documents")
    sp.add_argument("--text-col", default="text")
    sp.add_argument("--min-count", type=int, default=2)
    sp.add_argument(
        "--clean", action="store_true",
        help="write the cleaned corpus instead of the span report",
    )
    sp.set_defaults(fn=cmd_span_dedup)

    sp = sub.add_parser(
        "diff", help="what changed vs the previous published generation"
    )
    sp.add_argument("--output", "-o", required=True, help="table store root")
    sp.add_argument("--table", required=True)
    sp.add_argument("--keys", required=True, help="comma-separated key columns")
    sp.add_argument("--compare", default=None,
                    help="comma-separated compared columns (default: shared)")
    sp.add_argument("--out-keys", default=None, metavar="DIR",
                    help="also write the full (key, change) rows as "
                    "parquet — the downstream re-process worklist")
    sp.set_defaults(fn=cmd_diff)

    sp = sub.add_parser("undo", help="restore the previous published generation")
    sp.add_argument("--output", "-o", required=True)
    sp.set_defaults(fn=cmd_undo)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
