"""End-to-end KG-construction pipeline (P1→P15) with checkpointed,
resumable stages (P16).

Stage graph::

    ontology ─── concept_similarity (P10 Wu-Palmer matrix) ───────┐
                                                                  │
    transcripts ─ P11 respread ─ P3 normalize ─ fused mention UDF │
        │         (P4/P5 mentions → P7–P9 canonical link →        │
        │          per-turn dedup: ONE mapInPandas stage)         │
        │                         │                               │
        └─ uses_tool, replies_to ─┴─ P12 union ─ P13 dedup        │
                                                   │              │
                                                triples ──── cds_scores (P14)
                                                   │
                                  inferred_triples (P12b, optional)

Each named stage is checkpointed. ``build_triples_fast`` is the one
triple-construction plan: ``run_pipeline`` and the streaming
micro-batches checkpoint or append ``dedup_triples`` of it.

Checkpointing (P16, north rule "resumable from checkpoint with
per-partition lineage + metrics"): every stage writes its output table
plus manifest rows (one per conv-hash bucket) carrying an input
fingerprint, row counters and status. A resumed run skips stages whose
manifest is complete for the same fingerprint and re-reads the persisted
output — the property test asserts resume ≡ single run. Totals are also
attached in-flight via ``df.observe`` (no extra action needed).
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import semantics as S
from ..operators.cds import cds_scores
from ..operators.normalize import normalize_turns
from ..operators.triples import dedup_triples
from ..operators.wup import concept_similarity
from ..schemas import ONTOLOGY_CONCEPTS
from ..sources import fixtures
from ..sources.storage import Storage

N_LINEAGE_BUCKETS = 64


@dataclass
class PipelineResult:
    triples: DataFrame
    cds: DataFrame
    metrics: dict = field(default_factory=dict)


def _fingerprint(*parts: object) -> str:
    return f"{S.stable_hash('fp', *parts):016x}"


class CheckpointedRun:
    """Stage wrapper: write-through checkpoint with bucket-level lineage."""

    def __init__(self, spark: SparkSession, run_dir: str, run_id: str = "run-0"):
        self.spark = spark
        self.run_id = run_id
        self.storage = Storage(run_dir)
        self.manifest_path = os.path.join(run_dir, "checkpoint_manifest.parquet")
        os.makedirs(run_dir, exist_ok=True)
        self.metrics: dict[str, dict] = {}

    # -- manifest ----------------------------------------------------------
    def _manifest(self) -> pd.DataFrame:
        if os.path.exists(self.manifest_path):
            return pd.read_parquet(self.manifest_path)
        return pd.DataFrame(columns=[
            "run_id", "stage", "partition_id", "input_fingerprint",
            "rows_in", "rows_out", "status", "ts"])

    def _stage_complete(self, stage: str, fp: str) -> bool:
        m = self._manifest()
        done = m[(m.stage == stage) & (m.input_fingerprint == fp)
                 & (m.status == "complete")]
        return not done.empty

    def _record(self, stage: str, fp: str, bucket_counts: pd.DataFrame,
                rows_in: int) -> None:
        now = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)
        rows = bucket_counts.rename(
            columns={"bucket": "partition_id", "rows": "rows_out"})
        rows["run_id"] = self.run_id
        rows["stage"] = stage
        rows["input_fingerprint"] = fp
        rows["rows_in"] = rows_in
        rows["status"] = "complete"
        rows["ts"] = now
        prev = self._manifest()
        new = rows[["run_id", "stage", "partition_id", "input_fingerprint",
                    "rows_in", "rows_out", "status", "ts"]]
        m = new if prev.empty else pd.concat([prev, new], ignore_index=True)
        m.to_parquet(self.manifest_path, index=False)

    # -- stage execution ---------------------------------------------------
    def stage(self, name: str, fp_parts: tuple, build,
              lineage_key: str = "conv_id") -> DataFrame:
        """Run (or resume) one stage. ``build()`` returns the stage DataFrame."""
        fp = _fingerprint(name, *fp_parts)
        if self._stage_complete(name, fp) and self.storage.exists(self.spark, name):
            self.metrics[name] = {"resumed": True}
            return self.storage.read_table(self.spark, name)
        obs = Observation(f"obs_{name}")
        df = build()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        self.storage.write_table(df, name)
        out = self.storage.read_table(self.spark, name)
        # bucket-level lineage counters (deterministic conv-hash buckets —
        # stable across parallelism, unlike physical partition ids)
        key = lineage_key if lineage_key in out.columns else out.columns[0]
        bc = (
            out.groupBy(F.pmod(F.xxhash64(F.col(key)), F.lit(N_LINEAGE_BUCKETS))
                .cast("int").alias("bucket"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .toPandas()
        )
        rows_out = int(obs.get["rows_out"]) if obs.get else int(bc["rows"].sum())
        self._record(name, fp, bc, rows_out)
        self.metrics[name] = {"rows_out": rows_out, "resumed": False}
        return out


def build_triples_fast(spark: SparkSession, transcripts: DataFrame,
                       ontology_pdf: pd.DataFrame | None = None,
                       spread_partitions: int | None = None) -> DataFrame:
    """The triple-construction plan (no checkpoint materialization).

    Fully-fused mapInPandas (regex mentions → in-batch canonical map →
    per-turn max-dedup) → 3-rule union. Every rule then emits
    globally-unique (s,p,o) rows — mention duplicates only ever arise
    within one turn and are collapsed inside the UDF batch — so P13's
    full-corpus dedup shuffle is unnecessary by construction and the
    plan has exactly ONE wide boundary (the P11 respread; the replies
    window is narrow-ish: conv_id+turn_idx only after column pruning).
    PRECONDITION for uniqueness: one row per (conv_id, turn_idx), which
    P2 turn assembly guarantees. For raw input that may repeat a turn,
    use ``run_pipeline``, which applies ``dedup_triples`` on top.
    Equality with the pinned oracle tagger is tested in
    tests/test_autotag.py."""
    from ..operators.linking import surface_canonical_table
    from ..operators.mentions import detect_canonical_concepts_exploded
    from ..operators.triples import (canonical_mention_triples,
                                     reply_triples, tool_triples)

    ontology_pdf = ontology_pdf if ontology_pdf is not None else fixtures.ontology_pandas()
    concepts = [
        S.Concept(r.concept_id, r.pref_label, list(r.alt_labels), r.parent_id,
                  int(r.depth), list(r.path))
        for r in ontology_pdf.itertuples()
    ]
    gaz = S.build_gazetteer(concepts)
    wup_pdf = pd.DataFrame(
        [(a.concept_id, b.concept_id, S.wup_similarity(a, b))
         for a in concepts for b in concepts],
        columns=["concept_a", "concept_b", "wup"])
    canon_table = surface_canonical_table(ontology_pdf, gaz, wup_pdf)
    # P11: the mention UDF is map-only, so a round-robin respread defuses
    # hot-conversation stragglers (one skewed input partition otherwise
    # pins the whole wave). Default 3 waves per core;
    # ``spread_partitions=0`` disables the respread entirely — the
    # DIAGNOSTIC baseline the adversarial-skew bench
    # (scripts/skew_bench.py) measures the salting against.
    if spread_partitions == 0:
        spread = transcripts
    else:
        n = spread_partitions or spark.sparkContext.defaultParallelism * 3
        spread = transcripts.repartition(n)
    canon_concepts = detect_canonical_concepts_exploded(
        normalize_turns(spread), gaz, canon_table)
    return (
        canonical_mention_triples(canon_concepts)
        .unionByName(tool_triples(transcripts))
        .unionByName(reply_triples(transcripts))
    )


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    run_dir: str,
    ontology_pdf: pd.DataFrame | None = None,
    run_id: str = "run-0",
    stop_after: str | None = None,
    fused_linking: bool = False,
    manual_tags: DataFrame | None = None,
    infer_broader: bool = False,
) -> PipelineResult:
    """Execute the full pipeline with checkpoints under ``run_dir``.

    Stages: concept_similarity → triples → (inferred_triples) →
    cds_scores. The ``triples`` stage checkpoints
    ``dedup_triples(build_triples_fast(...))``; the dedup keeps the
    output one row per (subj, pred, obj) even when the input repeats a
    (conv_id, turn_idx) row.

    ``stop_after`` kills the run after the named stage (resume tests).

    ``infer_broader=True`` adds a checkpointed P12b stage that
    materializes the SKOS-subsumption closure
    (operators/triples.py:infer_broader_triples): the returned triple
    graph also carries ``mentions_broader`` edges to every strict
    ancestor of each mentioned concept. CDS still propagates from the
    ASSERTED triples only — CDS is itself a taxonomic propagation, and
    feeding it inferred edges would double-count the hierarchy.

    ``manual_tags`` is an optional curated (subj_key, concept_id,
    tag_score) table (P19, operators/manual.py — validate it with
    ``ingest_manual_tags`` first); when given, the CDS stage propagates
    the manual∪auto union instead of autotag alone, exactly like the
    reference's curated tagging graph feeds its CDS matrix [K].

    ``fused_linking`` is accepted and ignored, so callers that still
    pass it keep working; there is one linking plan.
    """
    ontology_pdf = ontology_pdf if ontology_pdf is not None else fixtures.ontology_pandas()
    run = CheckpointedRun(spark, run_dir, run_id)
    # The fingerprint must digest the ontology's CONTENT, not just its
    # size (same discipline as the manual-tags digest below): an edited
    # taxonomy with an unchanged concept count — relabeled concept,
    # re-parented subtree — must NOT resume checkpoints computed under
    # the old one. Order-free over the identity-bearing fields.
    onto_digest = S.stable_hash(
        "onto", *sorted(f"{r.concept_id}\x00{r.pref_label}\x00"
                        f"{r.parent_id}\x00{'/'.join(r.path)}\x00"
                        f"{'+'.join(sorted(r.alt_labels))}"
                        for r in ontology_pdf.itertuples()))
    cfg_fp = (len(ontology_pdf), f"onto:{onto_digest:x}",
              S.COS_THRESHOLD, S.LINK_ALPHA, S.TOP_K)

    ontology_df = spark.createDataFrame(ontology_pdf, schema=ONTOLOGY_CONCEPTS)
    concept_sim = run.stage(
        "concept_similarity", cfg_fp,
        lambda: concept_similarity(ontology_df), lineage_key="concept_a")
    if stop_after == "concept_similarity":
        return PipelineResult(None, None, run.metrics)

    triples = run.stage("triples", cfg_fp, lambda: dedup_triples(
        build_triples_fast(spark, transcripts, ontology_pdf)))
    if stop_after == "triples":
        return PipelineResult(triples, None, run.metrics)

    out_triples = triples
    if infer_broader:
        from ..operators.triples import infer_broader_triples
        inferred = run.stage("inferred_triples", cfg_fp,
                             lambda: infer_broader_triples(triples, ontology_df))
        out_triples = triples.unionByName(inferred)
        if stop_after == "inferred_triples":
            return PipelineResult(out_triples, None, run.metrics)

    # The fingerprint must encode the manual tags' CONTENT, not just
    # their presence: unlike cfg_fp's pinned constants they are external
    # mutable data — a re-run of the same run_dir with an edited manual
    # table must NOT resume the stale cds_scores checkpoint. One tiny
    # agg (count + sum of per-row xxhash64) digests them order-free.
    if manual_tags is None:
        cds_fp = cfg_fp
    else:
        digest_row = (manual_tags
                      .select(F.count(F.lit(1)).alias("n"),
                              F.sum(F.xxhash64(*manual_tags.columns))
                              .alias("h"))
                      .first())
        cds_fp = (*cfg_fp, f"manual:{digest_row['n']}:{digest_row['h']}")
    cds = run.stage("cds_scores", cds_fp, lambda: cds_scores(
        triples, concept_sim, manual_tags=manual_tags),
        lineage_key="subj_key")

    return PipelineResult(out_triples, cds, run.metrics)
