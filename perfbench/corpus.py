"""Seeded transcript corpus for the benchmark.

Same shape as ``sources.fixtures.transcripts_spark`` (which takes no
seed): heavy-tailed conversation sizes, one hot conversation holding
``hot_frac`` of all turns, roles cycling user/assistant with tool turns,
text drawn from the shared vocabulary (which overlaps the ontology
labels) plus injected multi-word ontology labels, and timestamps
monotone within a conversation.

Pure numpy/pyarrow, so generating the input starts no Spark JVM and
leaves the workload's own JVM untouched. The program only ever sees the
parquet file this writes.

    python3 perfbench/corpus.py --seed 7 --convs 12000 --out corpus.parquet
"""

from __future__ import annotations

import argparse
import datetime as dt
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_BASE_TS = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
MAX_CONV_LEN = 400


def make_corpus(seed: int, n_convs: int, hot_frac: float = 0.05) -> pa.Table:
    from otd_semantic_framework_spark import semantics as S
    rng = np.random.default_rng(seed)
    # Lomax(1.5) tail: most conversations are short, a few run long
    lens = np.minimum(3 + np.floor(rng.pareto(1.5, n_convs) * 3),
                      MAX_CONV_LEN).astype(np.int64)
    hot = int(rng.integers(n_convs))
    lens[hot] = max(8, int(lens.sum() * hot_frac / (1 - hot_frac)))
    n = int(lens.sum())

    conv_idx = np.repeat(np.arange(n_convs), lens)
    starts = np.cumsum(lens) - lens
    turn_idx = np.arange(n) - np.repeat(starts, lens)

    is_tool = (turn_idx > 0) & (rng.random(n) < 0.2)
    role = np.where(is_tool, "tool",
                    np.where(turn_idx % 2 == 0, "user", "assistant"))
    tools = np.asarray(S.TOOL_NAMES, dtype=object)
    tool = np.where(is_tool, tools[rng.integers(len(tools), size=n)], None)

    # Zipf-weighted word choice over the 200-word vocabulary
    vocab = np.asarray(S.VOCAB, dtype=object)
    w = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    word_ids = rng.choice(len(vocab), size=(n, 12), p=w / w.sum())
    n_words = rng.integers(4, 13, size=n)
    labels = [c.pref_label for c in S.build_ontology()]
    inject = rng.random(n) < 0.25
    inj_label = rng.integers(len(labels), size=n)
    inj_pos = rng.integers(0, 13, size=n)
    text = []
    for i in range(n):
        words = list(vocab[word_ids[i, :n_words[i]]])
        if inject[i]:
            words.insert(min(inj_pos[i], n_words[i]), labels[inj_label[i]])
        text.append(" ".join(words))

    conv_off = rng.integers(1_000_000, size=n_convs)
    ts = (_BASE_TS + conv_off[conv_idx] + turn_idx * 95
          + rng.integers(86, size=n)) * 1_000_000
    conv_ids = np.asarray([f"conv-{i:07d}" for i in range(n_convs)],
                          dtype=object)
    return pa.table({
        "conv_id": pa.array(conv_ids[conv_idx], pa.string()),
        "turn_idx": pa.array(turn_idx, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def corpus_path(out_dir: str, seed: int, n_convs: int) -> str:
    """Materialize the (seed, size) corpus once; later calls reuse it."""
    path = os.path.join(out_dir, f"corpus-s{seed}-c{n_convs}.parquet")
    if not os.path.exists(path):
        os.makedirs(out_dir, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        pq.write_table(make_corpus(seed, n_convs), tmp)
        os.replace(tmp, path)
    return path


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--convs", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    pq.write_table(make_corpus(args.seed, args.convs), args.out)


if __name__ == "__main__":
    main()
