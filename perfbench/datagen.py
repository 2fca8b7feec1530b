"""Seeded benchmark inputs, written as parquet under the benchmark's work dir.

`prep_job` documents are drawn once from a fixed base seed, shaped like
the engine's `documents` test table; the workload seed then permutes their
row order. The job's output is a pure function of document ids and text,
so it is the same for every seed and one set of pinned output hashes
checks all of them, while the physical input (file row order, partition
contents) differs from seed to seed.

`kg_build` transcripts come from the engine's own fixture generator,
`fixtures.synth_transcripts`, which takes the seed directly (it changes
each turn's text, not its entities, so the KG built is the same).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42

WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window order data column join small customer query "
    "big stream group filter vector"
).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")


def documents_table(n_docs: int) -> pa.Table:
    """Bag-of-words documents over a small vocabulary; one in twenty is a
    one-word edit of an earlier document, so near-duplicate dedup has
    clusters to merge."""
    rng = np.random.default_rng(BASE_SEED)
    texts = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            words = texts[int(rng.integers(0, i))].split()
            words[int(rng.integers(0, len(words)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            words = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(8, 96)))]
        texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n_docs)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def write_permuted(table: pa.Table, path: str, seed: int) -> None:
    """Write ``table`` to ``path`` with its rows in a seed-determined order."""
    order = np.random.default_rng(seed).permutation(table.num_rows)
    pq.write_table(table.take(pa.array(order)), path)


def write_transcripts(spark, path: str, seed: int, n_turns: int) -> None:
    from amr_kg_spark.fixtures import synth_transcripts

    synth_transcripts(
        spark, n_turns=n_turns, n_convs=1000, hot_frac=0.3, seed=seed
    ).write.mode("overwrite").parquet(path)
