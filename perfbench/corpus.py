"""Seeded document corpus for the pretraining-corpus chain, and its output
check against each catalog entry's DuckDB oracle.

The corpus has the ``documents`` table layout of the star-schema testdata:
random word strings over the same small vocabulary, plus exact duplicates
and near-duplicates (one late word swapped, the 4-word blocking prefix
kept). Near-duplicates hang off distinct originals as stars of at most
three documents, so component diameter, and with it the number of
connected-components rounds, does not change with the seed.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

CHAIN = ("e2e10_pretraining_data_build", "e2e11_incremental_corpus_update",
         "e2e13_pretraining_export")
N_ORIGINALS, N_NEAR_DUPS, N_EXACT_DUPS = 300, 60, 40
VOCAB = ("a the key agg row scan slow fast table value part hash merge batch spark "
         "line sort window order data column join small customer query big stream "
         "filter group vector").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def write_documents(seed: int, out_dir: str) -> set[int]:
    """Write ``documents.parquet`` under ``out_dir``; return its doc ids."""
    rng = random.Random(seed)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randrange(10, 100)))
             for _ in range(N_ORIGINALS)]
    # long originals only: one swapped word keeps their Jaccard above 0.5
    long_docs = [i for i, t in enumerate(texts) if t.count(" ") >= 30]
    for orig in rng.sample(long_docs, N_NEAR_DUPS // 2):
        for _ in range(2):  # two near-duplicates per original
            words = texts[orig].split()
            words[rng.randrange(max(4, len(words) - 5), len(words))] = "dup"
            texts.append(" ".join(words))
    texts += [texts[i] for i in rng.sample(range(len(texts)), N_EXACT_DUPS)]
    rng.shuffle(texts)
    ids = list(range(len(texts)))
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [rng.choice(LANGS) for _ in ids],
        "source": [f"src{rng.randrange(20)}" for _ in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(out_dir, "documents.parquet"))
    return set(ids)


def oracle_digests(docs_dir: str) -> dict[str, tuple[int, list[str], str]]:
    """(rows, columns, value hash) of each chain entry's DuckDB oracle."""
    import duckdb

    from cnics_to_fhir_spark.plans import catalog
    from selfcheck import normalize, value_hash

    con = duckdb.connect()
    try:
        con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                    f"'{os.path.join(docs_dir, 'documents.parquet')}')")
        out = {}
        for name in CHAIN:
            df = normalize(con.execute(catalog()[name].oracle).fetchdf())
            out[name] = (len(df), list(df.columns), value_hash(df))
        return out
    finally:
        con.close()


def digest(pdf) -> tuple[int, list[str], str]:
    from selfcheck import normalize, value_hash

    df = normalize(pdf)
    return len(df), list(df.columns), value_hash(df)


# Output row keys, for the duplicate-output ratio: each must be unique.
KEYS = {CHAIN[0]: ["doc_id", "epoch"], CHAIN[1]: ["doc_id"], CHAIN[2]: ["shard"]}
