"""The v2 lattice's candidate pass keeps, per Arrow block of docs, only
the (probe, doc) cells a stage can still select
(`queries_pipeline._lattice_keep`), and one grouped pass per query
(`queries_pipeline._lattice_select`) runs the cascade over them. These
tests pin that the pruning is exact and that the grouped cascade equals
an independent model of the lattice: on random lattices split into
random blocks, and on the oracle-checked pipelines run over 7-row
blocks.
"""

from __future__ import annotations

from collections import defaultdict

import numpy as np
import pyarrow as pa

from tests.oracle_harness import check_query
from vector_search_ner_spark.plans import queries_pipeline as qp

ARROW_BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


def _lattice(cells, qid, sidx, qr, qj) -> dict:
    """`v2_lattice`'s stage selection over explicit cells
    {(probe, doc): (score, hr, hj, hs)}, rank order (score desc, doc
    asc): returns {(query, doc): winning stage} after the first-wins
    merge."""
    main = defaultdict(list)
    syn = defaultdict(list)
    for (p, d), (score, hr, hj, hs) in cells.items():
        if sidx[p] == -1:
            main[qid[p]].append((-score, d, hr, hj, p))
        elif (hr or not qr[p]) and hs:
            syn[qid[p], sidx[p]].append((-score, d))
    won = {}

    def take(q, d, stage):
        if won.get((q, d), stage + 1) > stage:
            won[q, d] = stage

    in4 = set()
    for (q, i), rows in syn.items():
        for _, d in sorted(rows)[: qp.STAGE_K]:
            take(q, d, 10 + i)
            in4.add((q, d))
    for q, rows in main.items():
        rows.sort()
        p = rows[0][4]
        counts = [0, 0, 0, 0]
        flags = {}
        for rn, (_, d, hr, hj, _) in enumerate(rows, 1):
            preds = ((hr or not qr[p]) and (hj or not qj[p]), hr or hj, hr and qr[p], hj and qj[p])
            ok = []
            for k, pred in enumerate(preds):
                counts[k] += pred
                ok.append(bool(pred) and counts[k] <= qp.STAGE_K)
            flags[d] = (*ok, rn <= qp.FALLBACK_K)
        in1 = {d for d, f in flags.items() if f[0]}
        in2 = set()
        if len(in1) < qp.DEFICIT_MIN and qr[p] and qj[p]:
            in2 = {d for d, f in flags.items() if f[1]}
        in3r, in3j = set(), set()
        if len(in1 | in2) < qp.DEFICIT_MIN:
            in3r = {d for d, f in flags.items() if f[2]}
            in3j = {d for d, f in flags.items() if f[3]}
        sel = in1 | in2 | in3r | in3j
        n5 = sum(1 for d in flags if d in sel or (q, d) in in4)
        in5 = {d for d, f in flags.items() if f[4]} if n5 < qp.FALLBACK_K else set()
        for stage, docs in ((0, in1), (1, in2), (2, in3r), (3, in3j), (100, in5)):
            for d in docs:
                take(q, d, stage)
    return won


def _random_lattice(rng):
    """A random probe batch over a random corpus: 1-4 queries, each
    with a main probe and 0-2 synonym probes; scores on a coarse grid
    so ties at every k boundary are common; and, per synonym probe, a
    few docs that only stage ④ can reach (top synonym score, bottom
    main score, no job match)."""
    n_docs = int(rng.integers(16, 90))
    qid, sidx, qr, qj = [], [], [], []
    for q in range(int(rng.integers(1, 5))):
        r, j = rng.random() < 0.7, rng.random() < 0.7
        for i in range(-1, int(rng.integers(0, 3))):
            qid.append(q), sidx.append(i), qr.append(r), qj.append(j)
    qid, sidx, qr, qj = map(np.array, (qid, sidx, qr, qj))
    P = len(qid)
    score = rng.integers(0, 6, (n_docs, P)) / 5.0
    hr_q = rng.random((n_docs, qid.max() + 1)) < rng.uniform(0.1, 0.8)
    hj_q = rng.random((n_docs, qid.max() + 1)) < rng.uniform(0.1, 0.8)
    hr = hr_q[:, qid] & qr
    hj = hj_q[:, qid] & qj
    hs = (rng.random((n_docs, P)) < rng.uniform(0.1, 0.9)) & (sidx >= 0)
    main_of = np.array([np.flatnonzero((qid == q) & (sidx == -1))[0] for q in qid])
    for p in np.flatnonzero(sidx >= 0):
        only4 = rng.choice(n_docs, size=int(rng.integers(0, 8)), replace=False)
        score[only4, p] = 1.0
        score[only4, main_of[p]] = -1.0
        hs[only4, p] = True
        hr[only4, p] = hr[only4, main_of[p]] = qr[p]
        hj[only4, p] = hj[only4, main_of[p]] = False
    return score, hr, hj, hs, qid, sidx, qr, qj, main_of


def _cells(score, hr, hj, hs, docs, mask) -> dict:
    return {
        (p, int(docs[i])): (score[i, p], hr[i, p], hj[i, p], hs[i, p])
        for i, p in zip(*np.nonzero(mask))
    }


def _winner_rows(won, cells, qid, sidx) -> dict:
    """`_lattice`'s winners as the rows the merge emits: {(query, doc):
    (score, hr, hj)} of the winning stage's probe."""
    probe = {(q, i): p for p, (q, i) in enumerate(zip(qid, sidx))}
    out = {}
    for (q, d), stage in won.items():
        score, hr, hj, _ = cells[probe[q, stage - 10 if 10 <= stage < 100 else -1], d]
        out[q, d] = (score, hr, hj)
    return out


def _grouped(cells, qid, sidx, qr, qj, rng) -> dict:
    """`_lattice_select` run on each query's cells, handed over in a
    random row order: {(query, doc): (score, hr, hj)}."""
    by_q = defaultdict(list)
    for (p, d), (score, hr, hj, hs) in cells.items():
        flags = (bool(f) for f in (hr, hj, hs, qr[p], qj[p]))
        by_q[qid[p]].append((int(qid[p]), int(sidx[p]), d, "en", float(score), *flags))
    names = ["query_id", "syn_idx", "doc_id", "lang", "score", "hr", "hj", "hs", "qr", "qj"]
    out = {}
    for rows in by_q.values():
        rows = [rows[i] for i in rng.permutation(len(rows))]
        t = pa.table([pa.array(col) for col in zip(*rows)], names=names)
        res = qp._lattice_select(t)
        assert res.column_names == qp.WINNER_COLS
        for q, d, _, score, hr, hj in zip(*(res.column(c).to_pylist() for c in qp.WINNER_COLS)):
            assert (q, d) not in out
            out[q, d] = (score, hr, hj)
    return out


def test_pruned_lattice_selects_the_same_stage_sets():
    """Per-block pruning is exact for any split of the corpus: random
    lattices split into 2-8 random blocks select the same stage sets
    from the kept cells as from every cell. The grouped per-query
    cascade emits, from all cells and from the kept cells alike, the
    winning row of every (query, doc) the model selects."""
    rng = np.random.default_rng(20)
    shuffle = np.random.default_rng(21)
    differing = grouped_differing = n_cells = n_kept = 0
    for _ in range(400):
        score, hr, hj, hs, qid, sidx, qr, qj, main_of = _random_lattice(rng)
        n_docs = score.shape[0]
        cells = _cells(score, hr, hj, hs, np.arange(n_docs), np.ones(score.shape, bool))
        full = _lattice(cells, qid, sidx, qr, qj)
        want = _winner_rows(full, cells, qid, sidx)
        kept = {}
        block_of = rng.integers(0, int(rng.integers(2, 9)), n_docs)
        for b in np.unique(block_of):
            docs = rng.permutation(np.flatnonzero(block_of == b))
            by_doc = np.argsort(docs)
            keep = qp._lattice_keep(score[docs], hr[docs], hj[docs], hs[docs], qr, qj, main_of, by_doc)
            kept.update(_cells(score[docs], hr[docs], hj[docs], hs[docs], docs, keep))
        n_cells, n_kept = n_cells + score.size, n_kept + len(kept)
        differing += _lattice(kept, qid, sidx, qr, qj) != full
        grouped_differing += _grouped(cells, qid, sidx, qr, qj, shuffle) != want
        grouped_differing += _grouped(kept, qid, sidx, qr, qj, shuffle) != want
    assert differing == 0, differing
    assert grouped_differing == 0, grouped_differing
    assert n_kept < n_cells, (n_kept, n_cells)


def test_v2_lattice_oracles_hold_over_seven_row_blocks(spark, sf_dir):
    """Both v2 pipelines still match their DuckDB oracles when every
    Arrow block the candidate pass sees holds 7 docs, so the fixture
    spans many pruning blocks (more blocks keep more cells)."""
    old = spark.conf.get(ARROW_BATCH)

    def kept_cells() -> int:
        return qp._lattice_candidates(spark, sf_dir, qp._static_probes(spark)).count()

    n_one_block = kept_cells()
    spark.conf.set(ARROW_BATCH, "7")
    try:
        assert kept_cells() > n_one_block
        for name in ("chat_pipeline_e2e", "staged_retrieval_pipeline"):
            check_query(spark, name, sf_dir)
    finally:
        spark.conf.set(ARROW_BATCH, old)


def test_v2_lattice_over_zero_probes_returns_no_rows(spark, sf_dir):
    """An empty probe batch — none at all, or only empty chat messages,
    which the guard drops before any probe is built — yields no rows
    and the lattice's 4-column schema."""
    batches = (
        qp._static_probes(spark).limit(0),
        qp._chat_probes(spark, [(0, "", "slow", "sort"), (1, "", None, None)]),
    )
    for probes in batches:
        df = qp.v2_lattice(spark, sf_dir, probes)
        assert df.columns == ["query_id", "doc_id", "combined_score", "rank"]
        assert df.collect() == []
