"""The canonical training-data curation pipeline, composed from the
operator library — the end-to-end shape a 100 TB corpus actually runs
(C4/CCNet/Gopher-style): dedup → decontaminate → quality-filter → PII
scrub → sample/split.

Each stage is one of this repo's operators; this module only wires them,
so every stage keeps its own scale story (bucketed LSH joins, broadcast
benchmark grams, broadcast LM vocabulary, narrow regex maps, md5-rank
sampling). Stages that are iterative or reuse an intermediate run their
jobs at build time (near-dup signatures persist for the band joins;
connected components iterates to a fixpoint; the LM fit collects its
normalizer); everything else stays lazy until the final write.

Partitioning comes from the core count, set once: exact dedup shuffles
into ``defaultParallelism`` partitions with an explicit count, which AQE
does not coalesce (see ``dedup.dedup_exact``). The later stages keep them
(the anti-joins broadcast, the filters are narrow), so the near-dup
kernel, the filters and the final write run one task per core. The
line-dedup join is the one later shuffle; it repartitions the same way.

Stage order matters and mirrors production practice:
  1. exact dedup FIRST (cheapest, shrinks everything downstream),
  2. near-dedup on the survivors (LSH candidate pairs → connected
     components → keep each cluster's representative),
  3. benchmark decontamination (drop docs sharing n-grams with eval sets),
  4. quality filters (length/repetition heuristics, then LM perplexity
     against a reference corpus),
  5. PII scrubbing (transforms text, so AFTER the content-hash stages —
     scrubbing first would split near-dup groups),
  6. domain-mixture resampling toward target source weights (a sampling
     decision, so after all content filters but before the split),
  7. leakage-safe split (or diversity sampling) on the final ids,
  8. sequence packing LAST — bin assignment depends on exactly which
     documents survived everything above.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


@dataclass
class CurationReport:
    """Row counts after each stage — the audit trail a curation run keeps."""
    stages: List[Dict[str, object]] = field(default_factory=list)

    def record(self, stage: str, count: int) -> None:
        self.stages.append({"stage": stage, "rows": count})

    def to_rows(self):
        return list(self.stages)


def curate_corpus(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    contract=None,
    contract_model: Optional[str] = None,
    benchmark: Optional[DataFrame] = None,
    lm_corpus: Optional[DataFrame] = None,
    max_perplexity: Optional[float] = None,
    min_tokens: int = 5,
    max_repetition: float = 0.5,
    collapse_lines: bool = False,
    line_dedup_min_len: Optional[int] = None,
    dedup_spans_min_len: Optional[int] = None,
    near_dup_threshold: float = 0.85,
    contamination_ngram: int = 5,
    classifier_threshold: Optional[float] = None,
    classifier_weights: Optional[List[float]] = None,
    scrub_pii: bool = True,
    mixture_targets: Optional[Dict[str, float]] = None,
    mixture_frac: float = 1.0,
    source_col: str = "source",
    split_weights: Optional[Dict[str, float]] = None,
    pack_budget: Optional[int] = None,
    checkpoint_dir: Optional[str] = None,
    checkpoint_stages: Sequence[str] = ("line_dedup", "near_dedup",
                                        "dedup_spans", "decontaminated",
                                        "lm_quality"),
    report: Optional[CurationReport] = None,
) -> DataFrame:
    """Run the full curation chain; returns the curated frame (with a
    ``split`` column when ``split_weights`` is given). Pass a
    ``CurationReport`` to receive per-stage row counts (each count is an
    extra aggregate job — skip the report in production if the counts
    aren't needed).

    ``checkpoint_dir`` makes the run RESUMABLE: each stage named in
    ``checkpoint_stages`` writes its output as parquet under
    ``{dir}/{params-hash}/{stage}`` and a rerun reads the newest complete
    checkpoint instead of recomputing everything upstream (lazy
    evaluation means skipped stages never launch a job). The default
    stage set covers the expensive content passes — the iterative LSH +
    connected-components dedup, the gram decontamination join, the LM
    scoring. The params hash covers every scalar argument, so editing a
    threshold invalidates the affected checkpoints automatically;
    CHANGING THE INPUT DATA DOES NOT — clear the directory (or use a new
    one) when docs/benchmark/lm_corpus change.

    The call leaves nothing in the session's cache. The near-dup losers
    come from :func:`dedup.connected_components`, which holds no cache
    on either path: its driver path hands back a table built on the
    driver, and its distributed path a local checkpoint of its last
    label round, so no checkpoint of the losers is needed to release
    label caches. The returned plan references that table or
    checkpoint, and the LM vocabulary's local checkpoint when
    ``lm_corpus`` is set; the caller owns them through the frame, and
    Spark releases their blocks when the frame is gone."""
    if (lm_corpus is None) != (max_perplexity is None):
        raise ValueError("lm_corpus and max_perplexity must be given "
                         "together (half-specifying them would silently "
                         "skip the LM quality stage)")
    from datacontract_cli_spark.operators import dedup, pii, textstats
    from datacontract_cli_spark.operators.contamination import contaminated_docs
    from datacontract_cli_spark.operators.sampling import hash_split

    ckpt_base = None
    if checkpoint_dir:
        params = dict(
            id_col=id_col, text_col=text_col, min_tokens=min_tokens,
            collapse_lines=collapse_lines,
            line_dedup_min_len=line_dedup_min_len,
            dedup_spans_min_len=dedup_spans_min_len,
            max_repetition=max_repetition,
            near_dup_threshold=near_dup_threshold,
            contamination_ngram=contamination_ngram,
            classifier_threshold=classifier_threshold,
            classifier_weights=list(classifier_weights or []),
            scrub_pii=scrub_pii, mixture_targets=mixture_targets,
            mixture_frac=mixture_frac, source_col=source_col,
            split_weights=split_weights, pack_budget=pack_budget,
            max_perplexity=max_perplexity,
            has_benchmark=benchmark is not None,
            has_lm=lm_corpus is not None,
        )
        if contract is not None:
            # the full rendered contract, so editing any rule re-keys the
            # checkpoint namespace like any other parameter change
            from datacontract_cli_spark import export as _export
            params["contract_sha"] = hashlib.sha256(
                _export.to_odcs_yaml(contract).encode()).hexdigest()[:12]
            params["contract_model"] = contract_model
        fp = hashlib.sha256(
            json.dumps(params, sort_keys=True).encode()).hexdigest()[:12]
        ckpt_base = f"{checkpoint_dir.rstrip('/')}/{fp}"

    def _has_ckpt(stage: str) -> bool:
        if ckpt_base is None or stage not in checkpoint_stages:
            return False
        spark = docs.sparkSession
        jpath = spark._jvm.org.apache.hadoop.fs.Path(
            f"{ckpt_base}/{stage}/_SUCCESS")
        fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(jpath))

    def _read_ckpt(stage: str) -> DataFrame:
        return docs.sparkSession.read.parquet(f"{ckpt_base}/{stage}")

    def _ckpt(stage: str, frame: DataFrame) -> DataFrame:
        """Write-once / read-back checkpoint. The read replaces the whole
        upstream lineage, so downstream stages resume from the parquet
        instead of replaying the chain. Stages with EAGER build-time jobs
        (the LSH dedup, the LM fit) are additionally guarded by
        ``_has_ckpt`` at their call sites — lazy skipping alone would
        still run their build-time work."""
        if ckpt_base is None or stage not in checkpoint_stages:
            return frame
        if not _has_ckpt(stage):
            frame.write.mode("overwrite").parquet(f"{ckpt_base}/{stage}")
        return _read_ckpt(stage)

    def _tick(stage: str, frame: DataFrame) -> None:
        if report is not None:
            report.record(stage, frame.count())

    out = docs
    _tick("input", out)

    # 0. contract conformance FIRST — drop rows violating the contract's
    # row-level checks (required/enum/range/regex/length) before any
    # content hashing; a narrow filter compiled from the same specs the
    # validation engine runs, so "clean" means the same thing in both
    if contract is not None:
        from datacontract_cli_spark.engine.violations import conforming
        model = contract_model or contract.schema_objects[0].name
        out = conforming(out, contract, model)
        out = _ckpt("contract_conformance", out)
        _tick("contract_conformance", out)

    # 1. exact dedup (normalized-text fingerprint, keep lowest id)
    out = dedup.dedup_exact(out, id_col, text_col)
    out = _ckpt("exact_dedup", out)
    _tick("exact_dedup", out)

    # 1a. within-doc consecutive-duplicate-line collapse (crawl chrome,
    # cursor spam) — a pure narrow rewrite, zero shuffle, so it needs no
    # checkpoint; runs before the corpus line-dedup so repeated chrome
    # counts once per doc there
    if collapse_lines:
        from datacontract_cli_spark.operators.lines import (
            collapse_repeated_lines,
        )
        out = collapse_repeated_lines(out, text_col)
        _tick("collapse_lines", out)

    # 1b. corpus line-dedup (C4/CCNet boilerplate removal) — REWRITES the
    # text, so it runs BEFORE the near-dup signatures (shared boilerplate
    # would otherwise glue unrelated docs into LSH clusters) and after
    # exact dedup (which is cheaper on the raw text). Docs stripped to
    # zero kept lines drop out. Production hash_lines keys the corpus
    # shuffle on 8-byte xxhash64 instead of line text.
    if line_dedup_min_len is not None:
        if _has_ckpt("line_dedup"):
            out = _read_ckpt("line_dedup")
        else:
            from datacontract_cli_spark.operators.lines import line_dedup
            cleaned = (line_dedup(out, id_col, text_col,
                                  min_len=line_dedup_min_len,
                                  hash_lines=True)
                       .filter(F.col("n_kept") > 0)
                       .select(id_col, F.col("text_clean").alias(text_col)))
            # the join's shuffle would be coalesced by AQE like any small
            # one; repartition to the core count as exact dedup does, so
            # the near-dup kernel below still runs on every core
            out = out.drop(text_col).join(cleaned, id_col).repartition(
                docs.sparkSession.sparkContext.defaultParallelism, id_col)
            out = _ckpt("line_dedup", out)
        _tick("line_dedup", out)

    # 2. near-dedup: banded-LSH candidates -> connected components ->
    #    keep each cluster's minimum id (the cluster representative).
    #    EAGER stage (signature persists + fixpoint iteration run at
    #    build time) — on resume, skip the build entirely.
    if _has_ckpt("near_dedup"):
        out = _read_ckpt("near_dedup")
    else:
        pairs = dedup.minhash_near_duplicates(out, id_col, text_col,
                                              threshold=near_dup_threshold,
                                              kernel="arrow")
        clusters = dedup.connected_components(pairs)
        # the clusters frame holds no cache (a driver-built table, or a
        # checkpoint on the distributed path), so the pairs cache — read
        # only by connected_components — is released right away
        pairs.unpersist()
        losers = clusters.filter(F.col("node") != F.col("cluster_id")) \
            .select(F.col("node").alias(id_col))
        out = out.join(losers, id_col, "left_anti")
        out = _ckpt("near_dedup", out)
    _tick("near_dedup", out)

    # 2b. ExactSubstr duplicate-SPAN removal (Lee et al. 2022): survivors
    # of doc-level dedup can still share long verbatim passages below the
    # doc-similarity threshold — cut them from the higher-id doc.
    # EAGER-ish (winnowing candidate join) — resume skips the build.
    if dedup_spans_min_len is not None:
        if _has_ckpt("dedup_spans"):
            out = _read_ckpt("dedup_spans")
        else:
            from datacontract_cli_spark.operators.spans import (
                duplicate_spans,
                remove_duplicate_spans,
            )
            spans = duplicate_spans(out, id_col, text_col,
                                    min_len=dedup_spans_min_len)
            out = remove_duplicate_spans(out, spans, id_col, text_col) \
                .drop("n_removed_chars")
            out = _ckpt("dedup_spans", out)
        _tick("dedup_spans", out)

    # 3. benchmark decontamination (broadcast semi-join on shared n-grams)
    if benchmark is not None:
        if _has_ckpt("decontaminated"):
            out = _read_ckpt("decontaminated")
        else:
            contaminated = contaminated_docs(out, benchmark, id_col,
                                             text_col,
                                             n=contamination_ngram,
                                             hash_grams=True)
            out = out.join(contaminated, id_col, "left_anti")
            out = _ckpt("decontaminated", out)
        _tick("decontaminated", out)

    # 4a. heuristic quality: token floor + repetition ceiling (narrow maps)
    out = out.filter(
        (textstats.whitespace_token_count(F.col(text_col)) >= min_tokens)
        & (textstats.repetition_ratio(F.col(text_col)) <= max_repetition))
    out = _ckpt("heuristic_quality", out)
    _tick("heuristic_quality", out)

    # 4b. LM perplexity filter against the reference corpus. EAGER stage
    # (scoring checkpoints the vocabulary and collects its normalizer) —
    # on resume, skip the fit entirely.
    if lm_corpus is not None and max_perplexity is not None:
        if _has_ckpt("lm_quality"):
            out = _read_ckpt("lm_quality")
        else:
            from datacontract_cli_spark.operators import lm_score
            lm = lm_score.fit_unigram_lm(lm_corpus, text_col)
            out = lm_score.quality_filter(out, lm, max_perplexity,
                                          id_col, text_col)
            out = _ckpt("lm_quality", out)
        _tick("lm_quality", out)

    # 4c. learned quality gate (fastText-style hashed linear classifier —
    # zero-shuffle, so it rides the same scan as the heuristic filters)
    if classifier_threshold is not None:
        from datacontract_cli_spark.operators.classifier import quality_gate
        n_buckets = len(classifier_weights) if classifier_weights else 4096
        out = quality_gate(out, classifier_threshold, id_col, text_col,
                           n_buckets=n_buckets, weights=classifier_weights)
        out = _ckpt("classifier_quality", out)
        _tick("classifier_quality", out)

    # 5. PII scrub (AFTER content-hash stages: scrubbing changes the text)
    if scrub_pii:
        out = out.withColumn(text_col, pii.scrub(F.col(text_col)))

    # 6. domain-mixture resampling (after content filters — mixing earlier
    # would re-skew whenever a filter removes more of one source).
    # mixture_sample's per-source share aggregate executes the upstream
    # chain once at call time and the final action executes it again —
    # persist/checkpoint `out` first when the chain above is expensive
    # enough that two executions matter (the caller owns the unpersist).
    if mixture_targets:
        if _has_ckpt("mixture"):
            out = _read_ckpt("mixture")
        else:
            from datacontract_cli_spark.operators.packing import (
                mixture_sample)
            out = mixture_sample(out, mixture_targets, mixture_frac,
                                 source_col=source_col, id_col=id_col,
                                 length_col=None)
            out = _ckpt("mixture", out)
        _tick("mixture", out)

    # 7. leakage-safe split on the surviving ids
    if split_weights:
        out = hash_split(out, id_col, split_weights)

    # 8. sequence packing LAST: the window rides the output frame itself
    # (keep_cols — a bin join-back would re-plan the whole upstream
    # lineage in a second branch), and bins are SPLIT-PURE when a split
    # exists (a bin mixing train and valid text would leak eval data into
    # any reader that streams whole bins). At scale, write the result
    # bucketed by bin_id so training readers stream whole bins.
    if pack_budget:
        from datacontract_cli_spark.operators.packing import pack_sequences
        out = pack_sequences(
            out, pack_budget, id_col, text_col,
            group_cols=("split",) if split_weights else (),
            keep_cols=True).drop("n_tokens", "bucket")
    return out
