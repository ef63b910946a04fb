"""Seeded benchmark inputs, written as parquet inside the run directory.

Everything here is a pure function of the seed: the same seed gives the
same rows, so two runs with one seed read identical inputs. The program
under test only ever sees the files written here.
"""

from __future__ import annotations

import math
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from amazon_textract_enhancer_spark.fixtures import generate_transcripts
from amazon_textract_enhancer_spark.schemas import TRANSCRIPT_SCHEMA

# Same whale cap as the committed fixture corpus: one conversation can
# move the turn count by at most this much, so the corpus size holds
# within ~2% of the target whatever the seed.
WHALE_CAP = 120

# documents/embeddings: the shape of the sf testdata tables (31-word
# vocabulary, five languages, twenty sources, 5% planted near-dups,
# 64-dim unit vectors around ten labelled centres)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
N_SOURCES = 20
EMB_DIM = 64
EMB_LABELS = 10


def transcript_rows(seed: int, n_turns: int) -> list[dict]:
    """Whole conversations from the repo's generator (its own 50/30/20
    html/layout/plain mix), taken in generation order until ``n_turns``
    is reached."""
    rows: list[dict] = []
    # capped conversations average ~25 turns; the generator's first k
    # conversations do not depend on how many follow, so over-generate
    # and cut whole conversations
    n_convs = max(4, n_turns // 10)
    all_rows, _ = generate_transcripts(
        seed=seed, n_convs=n_convs, with_goldens=False, whale_cap=WHALE_CAP
    )
    by_conv: dict[str, list[dict]] = {}
    for r in all_rows:
        by_conv.setdefault(r["conv_id"], []).append(r)
    for conv_id in sorted(by_conv):
        if len(rows) >= n_turns:
            break
        rows.extend(by_conv[conv_id])
    return rows


def write_transcripts(rows: list[dict], path: str) -> int:
    """Write transcript rows with the engine's input schema; returns the
    file size in bytes."""
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(TRANSCRIPT_SCHEMA)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_documents(seed: int, n_docs: int, path: str) -> None:
    rng = random.Random(f"docs|{seed}")
    rows = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            text = rows[rng.randrange(i)]["text"] + " dup"
        else:
            text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100)))
        rows.append({
            "doc_id": i,
            "text": text,
            "lang": rng.choice(LANGS),
            "source": f"src{i % N_SOURCES}",
            "n_chars": len(text),
        })
    schema = pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)


def write_embeddings(seed: int, n_vecs: int, path: str) -> None:
    rng = random.Random(f"emb|{seed}")
    centres = [[rng.gauss(0, 1) for _ in range(EMB_DIM)] for _ in range(EMB_LABELS)]
    rows = []
    for i in range(n_vecs):
        label = rng.randrange(EMB_LABELS)
        v = [c + rng.gauss(0, 0.8) for c in centres[label]]
        norm = math.sqrt(sum(x * x for x in v))
        rows.append({"vec_id": i, "embedding": [x / norm for x in v], "label": label})
    schema = pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ])
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), path)
