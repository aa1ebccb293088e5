"""Seeded input generators: the corpus, chat messages and ingest shards.

Everything the program receives comes from here, and a seed fixes it.
The corpus follows the `documents` fixture table: a 30-word vocabulary
drawn uniformly, 10 to 100 words per text, a rare `dup` marker on about
5% of the texts, `en` on about 41% of the rows and four other languages
sharing the rest.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
N_SOURCES = 20
DUP_MARK_RATE = 0.05
MIN_WORDS, MAX_WORDS = 10, 100

# parse vocabulary of the chat pipeline's rule-NER
# (queries_pipeline._E2E_REGION_CASE / _E2E_JOB_CASE)
REGIONS = ("fast", "slow")
JOBS = ("join", "sort", "merge", "scan")
FILLER = "looking for need some please today any pipelines jobs work help with".split()

DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def _text(rng: random.Random) -> str:
    words = rng.choices(VOCAB, k=rng.randint(MIN_WORDS, MAX_WORDS))
    if rng.random() < DUP_MARK_RATE:
        words.append("dup")
    return " ".join(words)


def docs(rng: random.Random, n: int, first_id: int = 0) -> dict[str, list]:
    """`n` fixture-shaped documents as columns."""
    texts = [_text(rng) for _ in range(n)]
    return {
        "doc_id": list(range(first_id, first_id + n)),
        "text": texts,
        "lang": rng.choices(LANGS, weights=LANG_WEIGHTS, k=n),
        "source": [f"src{rng.randrange(N_SOURCES)}" for _ in range(n)],
        "n_chars": [len(t) for t in texts],
    }


def write_table(cols: dict[str, list], table_dir: str, n_files: int) -> None:
    """Write `cols` as the table `<table_dir>/documents.parquet`, a
    directory of `n_files` part files. The old table is removed first,
    so its mtime, part of the vector store's key, always changes."""
    path = os.path.join(table_dir, "documents.parquet")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    table = pa.Table.from_pydict(cols, schema=DOC_SCHEMA)
    step = -(-table.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def shard(rng: random.Random, n: int, dup_rate: float, first_id: int) -> tuple[dict, list]:
    """An ingest shard of `n` docs of which about `dup_rate` are planted
    near-duplicates: a copy of an earlier doc of at least 40 words with
    one word appended, which changes one of its word-6-gram shingles.
    Returns the columns and the planted (dup_id, source_id) pairs."""
    cols = docs(rng, n, first_id)
    texts, n_chars = cols["text"], cols["n_chars"]
    planted = []
    for i in range(n // 4, n):
        if rng.random() >= dup_rate * 4 / 3:
            continue
        src = rng.randrange(i)
        if len(texts[src].split()) < 40:
            continue
        texts[i] = f"{texts[src]} {rng.choice(VOCAB)}"
        n_chars[i] = len(texts[i])
        planted.append((first_id + i, first_id + src))
    return cols, planted


# Message kinds, one per way a message reaches the lattice (see
# `message`). There is no traffic log to take their shares from, so
# every batch holds the same number of each kind: the mix is chosen
# only so that every stage fires in every request, and implies no
# real-world proportion.
N_KINDS = 8


def batch(rng: random.Random, n: int) -> list[tuple[str, str | None, str | None]]:
    """`n` messages, `n / N_KINDS` of each kind, in random order, so
    every batch asks for the same amount of work whatever the seed."""
    assert n % N_KINDS == 0, f"batch size {n} is not a multiple of {N_KINDS}"
    kinds = [k for k in range(N_KINDS) for _ in range(n // N_KINDS)]
    rng.shuffle(kinds)
    return [message(rng, k) for k in kinds]


def message(rng: random.Random, kind: int) -> tuple[str, str | None, str | None]:
    """One chat message of kind `kind` with its user-profile fallback
    fields, as (user_message, profile_region, profile_job). The kinds
    reach every stage of the v2 lattice, in this order:

    - both fields parsed, which fills at stage 1;
    - a parsed job with an out-of-vocabulary profile region, so the AND
      search is empty and stage 2's OR search runs;
    - fields only from the profile, the rare `dup` region among them;
    - a parsed region and the `neardup` job, which has synonyms, so
      stage 4 runs;
    - the `neardup` job alone;
    - out-of-vocabulary fields, so stages 1 and 2 come up short, stage
      3 runs and only the stage-5 fallback fills;
    - no fields at all, an unfiltered stage 1;
    - the empty message, which the guard drops.
    """
    pre, post = rng.choice(FILLER), rng.choice(FILLER)
    region, job = rng.choice(REGIONS), rng.choice(JOBS)
    oov = f"q{rng.randrange(10**6):06d}x"
    if kind == 0:
        return f"{pre} {region} {job} {post}", None, None
    if kind == 1:
        return f"{pre} {job} {post}", oov, None
    if kind == 2:
        return f"{pre} {post}", rng.choice(("dup",) + REGIONS), job
    if kind == 3:
        return f"{region} {pre} neardup {post}", None, None
    if kind == 4:
        return f"{pre} neardup {post}", None, None
    if kind == 5:
        return f"{pre} {post}", oov, f"z{oov}"
    if kind == 6:
        return f"{pre} {post}", None, None
    return "", rng.choice((None, region)), rng.choice((None, job))
