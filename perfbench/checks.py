"""Correctness gates. They run outside the timed windows; each mismatch
is a failed operation and makes the run incorrect.

- triples and CDS of a hash-sampled slice of conversations against the
  repository's pinned pandas oracle (``tests/oracle_tagger.py``);
- search results against a pandas ranking over the collected CDS.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from otd_semantic_framework_spark import semantics as S
from tests.oracle_tagger import oracle_cds, oracle_triples

SLICE_MOD = 64       # ~1.5% of conversations are checked against the oracle
SCORE_TOL = 2e-6


def slice_convs(corpus: pd.DataFrame, seed: int) -> list[str]:
    return sorted(c for c in corpus["conv_id"].unique()
                  if zlib.crc32(f"{seed}/{c}".encode()) % SLICE_MOD == 0)


def _rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return sorted(tuple(round(v, 6) if isinstance(v, float) else v
                        for v in r)
                  for r in pdf[cols].itertuples(index=False, name=None))


def check_triples(run, corpus: pd.DataFrame, triples: DataFrame,
                  cds: DataFrame | None = None) -> None:
    """Engine triples (and CDS, if given) restricted to the slice must
    equal the oracle's on the same rows."""
    convs = slice_convs(corpus, run.seed)
    rows = corpus[corpus.conv_id.isin(convs)].copy()
    rows["tool"] = rows["tool"].where(rows["tool"].notna(), None)
    want = oracle_triples(rows)
    got = triples.where(F.col("conv_id").isin(convs)).toPandas()
    cols = ["subj", "pred", "obj", "conv_id", "turn_idx", "score"]
    run.check(_rows(got, cols) == _rows(want, cols),
              f"triples differ from the oracle on {len(convs)} sampled convs")
    if cds is not None:
        keys = [f"conv:{c}" for c in convs]
        got_cds = cds.where(F.col("subj_key").isin(keys)).toPandas()
        cols = ["subj_key", "concept_id", "score"]
        run.check(_rows(got_cds, cols) == _rows(oracle_cds(want), cols),
                  "CDS differs from the oracle on the sampled convs")


def reference_search(query: str, cds: pd.DataFrame, onto: pd.DataFrame,
                     wup: pd.DataFrame | None) -> pd.DataFrame:
    """Every matching subject with its score and matched concepts, ranked
    (score desc, subj_key asc): the search contract in pandas."""
    norm = S.normalize_text(query)
    gaz = {S.normalize_text(lab): lab for lab in onto["pref_label"]}
    surfaces = [m[0] for m in S.find_mentions(norm, gaz)] or norm.split()
    cvecs = {r.concept_id: np.asarray(r.embedding, dtype=np.float64)
             for r in onto.itertuples()}
    wmap = (None if wup is None else
            {(r.concept_a, r.concept_b): r.wup for r in wup.itertuples()})
    q: dict[str, float] = {}
    for surface in sorted(set(surfaces)):
        mv = S.phrase_vector(surface).astype(np.float64)
        cands = sorted(((cid, float(np.round(mv @ v, S.SCORE_DECIMALS)))
                        for cid, v in cvecs.items()), key=lambda x: (-x[1], x[0]))
        cands = [c for c in cands if c[1] >= S.COS_THRESHOLD][:S.TOP_K]
        if cands and wmap is not None:
            anchor = cands[0][0]
            cands = [(cid, float(S.round_half_away(
                S.LINK_ALPHA * cos
                + (1 - S.LINK_ALPHA) * wmap.get((cid, anchor), 0.0))))
                for cid, cos in cands]
        for cid, s in cands:
            q[cid] = max(q.get(cid, -1.0), s)
    hit = cds[cds.concept_id.isin(q)].copy()
    hit["w"] = hit.score * hit.concept_id.map(q)
    out = (hit.groupby("subj_key")
           .agg(search_score=("w", "sum"),
                matched=("concept_id", lambda s: sorted(set(s))))
           .reset_index())
    out["search_score"] = S.round_half_away(out.search_score.to_numpy())
    return out.sort_values(["search_score", "subj_key"],
                           ascending=[False, True]).reset_index(drop=True)


def check_search(run, results: list[dict], ref: pd.DataFrame, top_n: int,
                 what: str) -> None:
    """Each returned subject has its reference score (within float
    summation error) and concepts; results are ranked by score, equal
    scores by subj_key; and no subject left out scores higher than the
    last one returned."""
    by_subj = ref.set_index("subj_key")
    ok = len(results) == min(top_n, len(ref)) and all(
        r["rank"] == i + 1 and r["subj_key"] in by_subj.index
        and abs(r["search_score"]
                - by_subj.search_score[r["subj_key"]]) <= SCORE_TOL
        and list(r["matched_concepts"]) == by_subj.matched[r["subj_key"]]
        for i, r in enumerate(results))
    ok = ok and all(
        (a["search_score"], b["subj_key"]) > (b["search_score"], a["subj_key"])
        for a, b in zip(results, results[1:]))
    if ok and results:
        rest = ref[~ref.subj_key.isin([r["subj_key"] for r in results])]
        ok = not (rest.search_score
                  > results[-1]["search_score"] + SCORE_TOL).any()
    run.check(ok, f"search results differ from the reference: {what}")
