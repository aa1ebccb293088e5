"""Near-duplicate detection family for training-data pipelines:

  * exact dedup          — content-fingerprint groupBy
  * MinHash + LSH        — `minhash_lsh_dedup`, the PUBLIC entrypoint:
                           DEFAULT emits CLUSTERS (star edges +
                           connected components, O(n·bands) rows even
                           on an n-doc full-duplicate clique); PAIRS
                           (bucket join + exact Jaccard verify) are an
                           explicit opt-in because pair output is
                           inherently O(n²) on dup cliques
  * n-gram Jaccard       — shingle-join exact pairwise similarity
  * SimHash              — bitwise fingerprint + byte-band pair search
  * embedding cosine     — sign-LSH bucket prefilter + exact cosine

Everything is built-in column exprs (array higher-order functions), so
signatures are MAP-ONLY (no shuffle until the candidate join) and the
joins shuffle only on shingle-hash/band/bucket keys — the standard
scale-out shape for 100 TB dedup. Hash/permutation constants are
computed driver-side from md5 so the DuckDB oracles inline the exact
same literals. Candidate and verify stages carry 60-bit shingle
HASHES, never the shingle strings (~5x slimmer persists and shuffles,
long-typed equi-joins/intersects); the mod-MINHASH_P reduction exists
only inside the minhash permutations, where its ~1e6 space is part of
the sketch, not of the exact verify.

Shingle hashes are Rabin-Karp style: md5 runs once per TOKEN, and each
word-k-gram's 60-bit hash is a two-lane polynomial combine of its k
token hashes (each lane a degree-k polynomial over a prime < 2^30, so
every product stays under 2^60 — safe in int64 on BOTH engines; the
lanes concatenate to 60 bits). The shingle STRINGS never materialize:
vs md5-per-shingle this hashes k-fold fewer bytes and builds no
intermediate k-word strings — measured ~2x faster on the signature
stage (PERF.md round 5). Same scheme as the rolling fingerprints in
queries_text.py, generalized to two lanes for 60-bit width.

Materialization discipline: multi-consumer frames here use EAGER
`localCheckpoint` — blocks are GC-reclaimed when unreferenced (no
session-long pin) and the logical plan is truncated (no exponential
subtree re-derivation). The honest tradeoff: localCheckpoint blocks
are non-replicated and non-reliable, so on a real cluster an executor
loss FAILS the job rather than recomputing. For the corpus-sized
frames (shingle/signature tables in jaccard/minhash/contamination), a
long-lived cluster deployment should swap in reliable `checkpoint()`
(HDFS/object store) or persist(MEMORY_AND_DISK)+unpersist — same plan
shape, one-line change; localCheckpoint stays the right call for the
small bounded frames (per-round CC labels, convergence signatures).

Word shingles use k=6: long enough that shingle document-frequency
stays tiny on natural text. Against adversarial skew (boilerplate
headers shared by millions of docs), `jaccard_pairs` and
`contamination_best_match` CAP hot shingles: shingles whose document
frequency exceeds `df_cap` are dropped from CANDIDATE GENERATION
(the self-join fan-out is quadratic in per-shingle DF — one hot
shingle at 100 TB is a stage-killing straggler), and surviving
candidate pairs are verified with the exact Jaccard over the FULL
uncapped shingle sets. The only semantic change is that a pair whose
every common shingle is boilerplate-hot is not reported — the
standard trade (MMDS ch.3 stop-shingle pruning).

Cache ownership: jaccard_pairs / minhash_lsh_pairs /
contamination_best_match persist their shingle frames (multiple
consumers in one plan); DataFrames are returned lazily so the
operators cannot unpersist. Spark's cache manager dedupes repeated
same-input invocations by canonicalized plan; callers looping over
MANY DISTINCT corpora in one session should spark.catalog.clearCache()
between corpora (bench.py does).

Lineage (public literature): shingling + resemblance — Broder, "On the
resemblance and containment of documents" (1997); MinHash-LSH banding —
Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch.3; SimHash —
Charikar, "Similarity estimation techniques from rounding algorithms"
(STOC 2002), applied web-scale in Manku/Jain/Sarma (WWW 2007); the
dedup-before-training motivation — Lee et al., "Deduplicating Training
Data Makes Language Models Better" (ACL 2022).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from vector_search_ner_spark.session import cut_lineage

# ---------------------------------------------------------------------------
# shared deterministic constants (same literals go into the SQL oracles)
# ---------------------------------------------------------------------------

MINHASH_P = 1_000_003
N_PERM = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERM // N_BANDS
SHINGLE_K = 6
SIMHASH_BITS = 32
SIMHASH_BAND_BYTES = 4


def _md5_const(tag: str) -> int:
    return int(hashlib.md5(tag.encode()).hexdigest()[:12], 16)


MINHASH_A = [(_md5_const(f"minhash-a:{j}") % (MINHASH_P - 1)) + 1 for j in range(N_PERM)]
MINHASH_B = [_md5_const(f"minhash-b:{j}") % MINHASH_P for j in range(N_PERM)]

# two-lane polynomial gram hash: primes just under 2^30 keep every
# product (acc * M + h) under 2^60 in int64 on both engines; the lane
# multipliers derive from md5 like every other constant here
GRAM_P1 = 1_073_741_789
GRAM_P2 = 1_073_741_783
GRAM_M1 = (_md5_const("gram-m1") % (GRAM_P1 - 2)) + 2
GRAM_M2 = (_md5_const("gram-m2") % (GRAM_P2 - 2)) + 2
_LANE_SHIFT = 1 << 30


def _gram_pows(m: int, p: int, k: int) -> list[int]:
    """Coefficient of the j-th token (0-based) in a degree-k fold:
    m^(k-1-j) mod p — lets the oracle evaluate the fold closed-form."""
    return [pow(m, k - 1 - j, p) for j in range(k)]


# ---------------------------------------------------------------------------
# token + gram hashing (map-only; md5 once per token, never per shingle)
# ---------------------------------------------------------------------------


def token_hashes60(text: Column) -> Column:
    """60-bit md5 hash per whitespace token. Materialize this ONCE per
    row (own projection) before deriving gram hashes: the rolling
    combine references every token hash k times."""
    from vector_search_ner_spark.functions.text import stable_long_hash

    toks = F.split(F.trim(text), " ")
    return F.transform(toks, stable_long_hash)


def duck_token_hashes60(text: str = "text") -> str:
    return (
        f"list_transform(string_split(trim({text}), ' '), "
        f"t -> CAST('0x' || substring(md5(t), 1, 15) AS BIGINT))"
    )


def _lane_fold(sub: Column, m: int, p: int) -> Column:
    return F.aggregate(
        sub, F.lit(0).cast("long"), lambda acc, h: (acc * m + (h % p)) % p
    )


def gram_hashes60(th: Column, k: int = SHINGLE_K) -> Column:
    """Distinct 60-bit hashes of the word k-gram shingles, computed
    from a MATERIALIZED token-hash array (`token_hashes60`) by a
    two-lane polynomial fold per gram position — Rabin-Karp over token
    hashes instead of md5 over k-word strings (k-fold fewer hashed
    bytes, no intermediate strings). Short docs (< k tokens) hash as
    ONE whole-text shingle: the same fold over the full token array.
    This is the CANDIDATE/VERIFY representation: pair joins and
    exact-Jaccard intersects run over 8-byte longs, and 60 bits keeps
    collisions negligible at corpus scale. Both engines derive the
    identical SET of values (`duck_gram_hashes60`) — but NOT the same
    array order: DuckDB's list_distinct does not preserve
    first-occurrence order while Spark's array_distinct does, so any
    consumer must stay order-insensitive (explode, array_min/
    list_min, intersects — everything here is); never emit or fold
    the array order-dependently in an oracle."""
    n = F.size(th)
    lane = lambda sub: _lane_fold(sub, GRAM_M1, GRAM_P1) * _LANE_SHIFT + _lane_fold(
        sub, GRAM_M2, GRAM_P2
    )
    grams = F.transform(F.sequence(F.lit(0), n - k), lambda i: lane(F.slice(th, i + 1, k)))
    return F.when(n >= k, F.array_distinct(grams)).otherwise(F.array(lane(th)))


def duck_gram_hashes60(th: str, k: int = SHINGLE_K) -> str:
    """DuckDB twin of `gram_hashes60` over a token-hash list column.
    The per-gram fold is evaluated closed-form (precomputed power
    coefficients, list_sum of k terms — each term < 2^60, k·2^60 fits
    int64 for k <= 8); the variable-length short-doc fold uses
    list_reduce with a prepended 0 accumulator (same recurrence as
    Spark's aggregate)."""
    pow1 = _gram_pows(GRAM_M1, GRAM_P1, k)
    pow2 = _gram_pows(GRAM_M2, GRAM_P2, k)

    def closed(pows: list[int], p: int) -> str:
        terms = " + ".join(
            f"(({th}[i + {j}] % {p}) * {pows[j]}) % {p}" for j in range(k)
        )
        return f"(({terms}) % {p})"

    def reduce_lane(m: int, p: int) -> str:
        return (
            f"list_reduce(list_prepend(CAST(0 AS BIGINT), {th}), "
            f"(acc, h) -> (acc * {m} + (h % {p})) % {p})"
        )

    return f"""CASE WHEN len({th}) >= {k}
      THEN list_distinct(list_transform(generate_series(1, len({th}) - {k - 1}),
             i -> {closed(pow1, GRAM_P1)} * {_LANE_SHIFT} + {closed(pow2, GRAM_P2)}))
      ELSE [{reduce_lane(GRAM_M1, GRAM_P1)} * {_LANE_SHIFT} + {reduce_lane(GRAM_M2, GRAM_P2)}] END"""


# ---------------------------------------------------------------------------
# MinHash signatures (map-only: array transform + array_min, no explode)
# ---------------------------------------------------------------------------


def minhash_signature_cols(hashes: Column) -> list[Column]:
    sigs = []
    for j in range(N_PERM):
        a, b = MINHASH_A[j], MINHASH_B[j]
        perm = F.array_min(
            F.transform(hashes, lambda h: (F.lit(a) * h + F.lit(b)) % MINHASH_P)
        )
        sigs.append(perm.alias(f"mh{j}"))
    return sigs


def duck_minhash_sig(j: int, hs_sql: str) -> str:
    """Permutation j's signature from a 60-bit gram-hash list (the
    mod-MINHASH_P reduction happens here, inside the sketch)."""
    a, b = MINHASH_A[j], MINHASH_B[j]
    return (
        f"list_min(list_transform({hs_sql}, "
        f"h -> ({a} * (h % {MINHASH_P}) + {b}) % {MINHASH_P}))"
    )


def band_key(sig_prefix: str, band: int) -> Column:
    cols = [F.col(f"{sig_prefix}{band * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
    return F.concat_ws("_", *[c.cast("string") for c in cols])


def duck_band_key(band: int) -> str:
    cols = [
        f"CAST(mh{band * ROWS_PER_BAND + r} AS VARCHAR)" for r in range(ROWS_PER_BAND)
    ]
    return "concat_ws('_', " + ", ".join(cols) + ")"


def shingle_frame(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(sid, hs): the per-doc 60-bit word-6-gram shingle-hash set —
    the canonical first stage every minhash consumer shares. Callers
    that feed multiple consumers localCheckpoint the result."""
    return docs.select(
        F.col(id_col).alias("sid"), token_hashes60(F.col(text_col)).alias("__th")
    ).select("sid", gram_hashes60(F.col("__th")).alias("hs"))


def minhash_band_frame(sh: DataFrame) -> DataFrame:
    """(sid, band, key) LSH posting rows from a (sid, hs) shingle
    frame: mod-P staging → 16-perm signatures → 4-band key explode.
    THE single definition of the banding — the persisted index build,
    the streaming index append, the shard probe, the pair self-join,
    the star edges, and the banding eval all call this, so the store,
    the stream, and every probe CANNOT drift apart (the checksums in
    stream_index_ingest would catch it; this removes the hazard)."""
    sigs = sh.withColumn(
        "hashes", F.transform(F.col("hs"), lambda h: h % MINHASH_P)
    ).select("sid", *minhash_signature_cols(F.col("hashes")))
    return sigs.select(
        "sid",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), band_key("mh", bi).alias("key"))
                    for bi in range(N_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("sid", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))


# ---------------------------------------------------------------------------
# SimHash (map-only fingerprint via 32 bit-folds over the token array)
# ---------------------------------------------------------------------------


def token_hashes(text: Column) -> Column:
    """Alias of `token_hashes60` — ONE tokenization + token-hash
    contract shared by the simhash and gram-hash paths (a divergence
    here would silently desynchronize the two dedup families)."""
    return token_hashes60(text)


def simhash_from_hashes(hashes: Column) -> Column:
    """32-bit SimHash from a precomputed token-hash array (materialize
    the array in its own projection so the 32 bit-folds don't each
    recompute the md5 transform)."""
    fp = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        mask = 1 << b
        contrib = F.aggregate(
            F.transform(
                hashes,
                lambda h: F.when(h.bitwiseAND(F.lit(mask)) != 0, 1).otherwise(-1),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        fp = fp + F.when(contrib > 0, F.lit(mask)).otherwise(F.lit(0)).cast("long")
    return fp


def simhash(text: Column) -> Column:
    """Convenience wrapper; prefer materializing token_hashes() as a
    column first when computing fingerprints in bulk."""
    return simhash_from_hashes(token_hashes(text))


def duck_simhash(text: str = "text") -> str:
    toks = f"string_split(trim({text}), ' ')"
    th = "CAST('0x' || substring(md5(t), 1, 15) AS BIGINT)"
    terms = []
    for b in range(SIMHASH_BITS):
        mask = 1 << b
        contrib = (
            f"list_sum(list_transform({toks}, "
            f"t -> CASE WHEN ({th} & {mask}) != 0 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {contrib} > 0 THEN CAST({mask} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


# ---------------------------------------------------------------------------
# embedding sign-LSH (hyperplane literals shared with the SQL oracle)
# ---------------------------------------------------------------------------

N_HYPERPLANES = 4
EMBED_DIM = 64


def _hyperplane(r: int) -> list[float]:
    return [
        (_md5_const(f"hp:{r}:{i}") % 2001 - 1000) / 1000.0 for i in range(EMBED_DIM)
    ]


HYPERPLANES = [_hyperplane(r) for r in range(N_HYPERPLANES)]


def sign_lsh_bucket(embedding: Column) -> Column:
    """Bucket id from the sign pattern of dot products with
    N_HYPERPLANES fixed hyperplanes (sequential double fold — identical
    in the oracle)."""
    bucket = F.lit(0)
    for r, hp in enumerate(HYPERPLANES):
        hp_arr = F.array(*[F.lit(v) for v in hp])
        dot = F.aggregate(
            F.zip_with(embedding, hp_arr, lambda x, h: x.cast("double") * h),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bucket = bucket + F.when(dot > 0.0, F.lit(1 << r)).otherwise(F.lit(0))
    return bucket.cast("int")


def duck_sign_lsh_bucket(emb: str = "embedding") -> str:
    terms = []
    for r, hp in enumerate(HYPERPLANES):
        lit = "[" + ", ".join(repr(v) for v in hp) + "]"
        dot = (
            f"list_sum(list_transform(generate_series(1, {EMBED_DIM}), "
            f"i -> CAST({emb}[i] AS DOUBLE) * ({lit})[i]))"
        )
        terms.append(f"(CASE WHEN {dot} > 0.0 THEN {1 << r} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS INTEGER)"


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup on normalized text: keep the min-id row per content
    fingerprint. One shuffle on the fingerprint."""
    from vector_search_ner_spark.operators.textstats import fingerprint

    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


DEFAULT_SHINGLE_DF_CAP = 64


def _drop_hot_shingles(exploded: DataFrame, df_cap: int, sh_col: str = "sh") -> DataFrame:
    """Remove shingles whose document frequency exceeds df_cap. The
    hot set is by construction tiny relative to the corpus (at most
    |rows| / df_cap shingles can exceed the cap), so it broadcasts;
    the anti-join is map-side and the capped relation never shuffles
    a hot key into the pair join."""
    hot = (
        exploded.groupBy(sh_col)
        .agg(F.count(F.lit(1)).alias("__df"))
        .where(F.col("__df") > df_cap)
        .select(sh_col)
    )
    return exploded.join(F.broadcast(hot), sh_col, "left_anti")


def jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    df_cap: int | None = DEFAULT_SHINGLE_DF_CAP,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: shingle self-join for
    CANDIDATES (hot shingles above df_cap excluded — the join fan-out
    is quadratic in per-shingle DF, so one boilerplate shingle would
    otherwise dominate the stage), then the exact Jaccard over the
    FULL shingle sets for every surviving candidate pair. Values are
    exact; only pairs whose every common shingle is hot are skipped.
    Returns (doc_a, doc_b, jaccard)."""
    sh = (
        docs.select(
            F.col(id_col).alias("sid"), token_hashes60(F.col(text_col)).alias("__th")
        )
        .select("sid", gram_hashes60(F.col("__th"), k).alias("hs"))
    )
    # corpus-sized cut (session.cut_lineage, mode-configurable):
    # consumed by the candidate explode AND both verify joins; in the
    # default local mode checkpoint blocks are GC-reclaimed once the
    # frame is unreferenced
    sh = cut_lineage(sh)
    exploded = sh.select("sid", F.explode("hs").alias("sh"))
    if df_cap is not None:
        exploded = _drop_hot_shingles(exploded, df_cap)
    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.sid") < F.col("b.sid")))
        .select(F.col("a.sid").alias("doc_a"), F.col("b.sid").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sh.select(F.col("sid").alias("doc_a"), F.col("hs").alias("sa"))
    sb = sh.select(F.col("sid").alias("doc_b"), F.col("hs").alias("sb"))
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = common / (F.size("sa") + F.size("sb") - common)
    return (
        verified.withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def minhash_lsh_dedup(
    docs: DataFrame,
    threshold: float = 0.5,
    *,
    emit: str = "clusters",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """THE public MinHash-LSH dedup entrypoint. `emit` picks the
    output contract:

      * "clusters" (DEFAULT) — (doc_id, cluster_id) labels via star
        edges + connected components. Output is O(n) rows and the
        labeler moves O(n · N_BANDS) edges even when the corpus holds
        an n-document full-duplicate clique — the only shape that
        survives 100 TB where one boilerplate page is ingested a
        million times (builder probe: the pairs path went 5.6s → 56s
        on 8× full-dup replication; this path stays linear). The
        reference dedups before rerank (main.py:173-181) — it needs
        the keep-one-per-group semantics clusters give, never the
        pair list. `threshold` is unused here: cluster granularity is
        band co-membership (the candidate level).
      * "pairs" — EXPLICIT OPT-IN for audit/debug workloads that need
        the pairwise (doc_a, doc_b, jaccard >= threshold) evidence.
        Output is inherently quadratic in dup-clique size; route
        large-clique corpora to the default instead.
    """
    if emit == "clusters":
        from vector_search_ner_spark.operators.dedup import connected_components

        labels = connected_components(lsh_star_edges(docs, text_col, id_col))
        return labels.select(
            F.col("node").cast("long").alias(id_col),
            F.col("cluster_id").cast("long"),
        )
    if emit == "pairs":
        return minhash_lsh_pairs(docs, threshold, text_col, id_col)
    raise ValueError(f"emit must be 'clusters' or 'pairs', got {emit!r}")


def minhash_lsh_pairs(
    docs: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """MinHash+LSH near-dup PAIRS — the explicit opt-in path behind
    `minhash_lsh_dedup(emit="pairs")`; prefer the cluster default for
    corpus dedup (pair output is O(n²) on an n-doc dup clique even
    though candidate generation is bucketed). Map-only signatures ->
    banded bucket join (candidates) -> exact Jaccard verify on the
    candidates only.

    Shuffle discipline (the 100 TB shape): the band self-join moves
    ONLY (sid, band, key) — never the shingle arrays; candidate pairs
    dedup as bare (doc_a, doc_b); the shingle arrays are joined back
    just twice, once per pair side, for the exact verify. Payload
    through the hot shuffle is O(|docs| * N_BANDS) slim rows."""
    # the shingle-hash table feeds BOTH the signature branch and the
    # verify joins; materialize it once (eager localCheckpoint — the
    # blocks are GC-reclaimed once unreferenced, unlike a persist,
    # which would pin corpus-sized cache for the session) instead of
    # recomputing the tokenize+md5 pass per consumer. It carries
    # 60-bit hashes, not shingle strings — ~5x slimmer blocks and
    # long-typed intersects in the verify (gram_hashes60)
    sh = cut_lineage(shingle_frame(docs, text_col, id_col))
    bands = minhash_band_frame(sh)
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(F.col("a.sid").alias("doc_a"), F.col("b.sid").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sh.select(F.col("sid").alias("doc_a"), F.col("hs").alias("sa"))
    sb = sh.select(F.col("sid").alias("doc_b"), F.col("hs").alias("sb"))
    verified = cand.join(sa, "doc_a").join(sb, "doc_b")
    common = F.size(F.array_intersect(F.col("sa"), F.col("sb")))
    jac = common / (F.size("sa") + F.size("sb") - common)
    return (
        verified.withColumn("jaccard", F.round(jac, 4))
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def lsh_star_edges(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Star edges over MinHash-LSH buckets: every doc connects to the
    MIN sid of each (band, key) bucket it lands in. A full-duplicate
    clique of n docs emits O(n · N_BANDS) edges instead of the O(n²)
    pairs an all-pairs bucket join produces — the edge set has the
    SAME connected components as bucket co-membership (any two
    same-bucket docs connect through the hub), which is what a
    cluster-emitting dedup needs. Self-edges for bucket hubs mean
    every doc appears in the output, so downstream labeling covers
    singletons too. Returns (doc_a=hub, doc_b=member)."""
    bands = minhash_band_frame(shingle_frame(docs, text_col, id_col))
    hub = F.min("sid").over(Window.partitionBy("band", "key"))
    return (
        bands.withColumn("hub", hub)
        .select(F.col("hub").alias("doc_a"), F.col("sid").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def hamming_band_pairs(
    fps: DataFrame,
    max_hamming: int,
    n_band_bytes: int = SIMHASH_BAND_BYTES,
    fp_bits: int | None = None,
) -> DataFrame:
    """Banded hamming-distance pair search over an integer fingerprint
    relation (sid, fp): byte-band candidate join (a pair within
    hamming distance < n_bands must share at least one byte band by
    pigeonhole — full recall for max_hamming < n_band_bytes; larger
    radii trade recall, as declared) -> exact popcount verify. Shared
    by text SimHash and binary perceptual-hash dedup; the shuffle
    carries only (sid, fp, band, key) slim rows.

    The pigeonhole guarantee holds ONLY if every fp fits in
    8*n_band_bytes bits — bits above the banded range never reach a
    band key, so a wider fingerprint would silently lose recall. Pass
    `fp_bits` to derive the band count from the fingerprint width; a
    cheap per-row assert_true guard fails the job loudly if a
    fingerprint overflows the banded range."""
    if fp_bits is not None:
        n_band_bytes = (fp_bits + 7) // 8
    if n_band_bytes >= 8:  # 64-bit long: every fp fits, no guard needed
        guarded_fp = F.col("fp")
    else:
        guarded_fp = F.when(
            F.assert_true(
                F.shiftrightunsigned(F.col("fp"), 8 * n_band_bytes) == 0,
                f"fingerprint exceeds the banded {8 * n_band_bytes}-bit range; "
                "pass fp_bits= to widen the band set",
            ).isNull(),
            F.col("fp"),
        )
    bands = fps.select(
        "sid",
        guarded_fp.alias("fp"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.shiftright(F.col("fp"), 8 * k).bitwiseAND(F.lit(255)).alias("key"),
                    )
                    for k in range(n_band_bytes)
                ]
            )
        ).alias("bk"),
    ).select("sid", "fp", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .select(
            F.col("a.sid").alias("doc_a"),
            F.col("b.sid").alias("doc_b"),
            F.col("a.fp").alias("fa"),
            F.col("b.fp").alias("fb"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.bit_count(F.col("fa").bitwiseXOR(F.col("fb")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """SimHash near-dup pairs: map-only 32-bit fingerprints (the
    Arrow-vectorized kernel — integer-exact twin of the 32 interpreted
    bit-folds, see veckernel.simhash_bits), then the shared banded
    hamming join (`hamming_band_pairs`)."""
    from vector_search_ner_spark.operators import veckernel as vk

    fps = docs.select(
        F.col(id_col).alias("sid"), token_hashes(F.col(text_col)).alias("__th")
    ).select("sid", vk.simhash_bits(F.col("__th"), SIMHASH_BITS).alias("fp"))
    return hamming_band_pairs(fps, max_hamming)


# production IVF near-dup knob: Lloyd-learned coarse quantizer sized
# FROM THE CORPUS (round 12 — the round-11 fixed ncent=64 was a
# measured quadratic trap at scale: perf_scale_r11ops showed 34x wall
# / 94x shuffle at x10 corpus vs 3.1x when cells track N).
#
#   ncent  = clamp(ceil(N / IVF_TARGET_CELL_OCC), MIN, MAX)
#            — constant mean cell occupancy, so same-cell candidate
#            mass (~ ncent * (occ*nprobe)^2 / 2) grows LINEARLY in N.
#   nprobe = IVF_NPROBE_BASE + (ncent > 4^3) + (ncent > 5^3),
#            capped at IVF_NPROBE_MAX
#            — the integer ceil-cube-root tiers of the cell count:
#            finer grids split fixed-radius neighborhoods across more
#            cells, so probing deepens SUB-LINEARLY with granularity;
#            the cap keeps the x-scale candidate growth linear.
#
# Measured on the fixtures (round 12 knob sweep, PERF.md): sf0.01
# (N=500 -> ncent 63, nprobe 4) recall 0.9153 of exact cosine>=0.4
# all-pairs truth for 28.4% of all-pairs as candidates — the exact
# round-11 promotion figures; sf0.1 (N=2000 -> ncent 250, nprobe 6)
# recall 0.8359 for 15.6% — the fixed-64 knob's 0.766 decay erased,
# with HALF the candidate fraction. The integer tier breaks avoid a
# float cbrt at a parity boundary (libm cbrt may differ between the
# JVM/Python and DuckDB in the last ulp; integer compares cannot).
IVF_TARGET_CELL_OCC = 8
IVF_NCENT_MIN = 16
# bounds the broadcastable centroid table (~64 MB of 64-dim doubles);
# beyond N ~ 1e6 * occ the honest scale path is a two-level (IMI/
# residual) quantizer — out of scope, documented rather than implied
IVF_NCENT_MAX = 131072
IVF_NPROBE_BASE = 4
IVF_NPROBE_MAX = 6
# kept as the fixture-measured legacy constants: the knob formula
# reproduces them at sf0.01 (ncent 63 ~ 64, nprobe 4); scale probes
# still pass explicit values through n_clusters/nprobe
IVF_NEARDUP_NCENT = 64
IVF_NEARDUP_NPROBE = 4

# the PERSISTED-index (incremental) variant of the knob: the store
# multi-assigns its members to their top-m cells index-side and an
# arriving shard probes its top-m cells — the batch op's both-sides
# scheme restored (r11's single-assigned store capped recall at 0.786
# however deep the shard probed). A FINER quantizer (occupancy 6 vs
# the batch 8) buys the selectivity back, and the depth m is
# CORPUS-DERIVED like every other knob in the family (the r12 fixed
# m=3 reproduced the batch op's scale decay one tier down — measured
# sf0.1 recall 0.47 at 3x3):
#
#   m = clamp(isqrt(x), 2, IVF_STORE_NPROBE_MAX),
#       x = 3 * N / (20 * occupancy)
#
# i.e. the largest symmetric depth whose predicted candidate mass
# m^2 * occ / N stays under ~15% of shard x corpus (the measured
# curve runs a few points above the prediction, so 3/20 lands the
# real mass under the 20% contract). isqrt is evaluated as integer
# TIER COMPARES (m >= k iff x >= k^2) so the SQL twin cannot drift
# at a boundary. Measured (probe grid, PERF.md r12): sf0.01
# (450-vec corpus -> 75 cells, m=3) recall 0.857 @ 16.0%; sf0.1
# (1800 -> 300 cells, m=6) recall 0.806 @ 16.7% — the scale decay
# erased at the same <= 20% candidate bound. Store grows ~m x (each
# assignment row carries the member vector so probes stay
# partition-pruned — the standard multi-copy IVF layout trade); the
# depth cap keeps that growth and the probe fan-out bounded at
# extreme corpus sizes (beyond it, re-tune via
# dedup_cosine_knob_recommend's instrument).
IVF_STORE_CELL_OCC = 6
IVF_STORE_NPROBE = 3  # fixture-measured legacy constant (sf0.01 m)
IVF_STORE_NPROBE_MIN = 2
IVF_STORE_NPROBE_MAX = 8
IVF_STORE_FRAC_NUM = 3
IVF_STORE_FRAC_DEN = 20


def adaptive_ncent(n_vectors: int, occupancy: int = IVF_TARGET_CELL_OCC) -> int:
    """Corpus-adaptive coarse-quantizer size: ceil(N / occupancy)
    clamped to [IVF_NCENT_MIN, IVF_NCENT_MAX]. Integer arithmetic only
    — the DuckDB oracles compute the identical formula with
    CEIL(COUNT(*) / occ.0) so parity holds at every scale factor."""
    return max(IVF_NCENT_MIN, min(IVF_NCENT_MAX, -(-n_vectors // occupancy)))


def adaptive_nprobe(ncent: int) -> int:
    """Probe depth for an adaptive cell count: the ceil-cube-root
    tiers 4/5/6 (breaks at 4^3=64 and 5^3=125), capped at
    IVF_NPROBE_MAX so asymptotic candidate mass stays linear in N."""
    return min(
        IVF_NPROBE_MAX, IVF_NPROBE_BASE + int(ncent > 64) + int(ncent > 125)
    )


def adaptive_store_nprobe(
    n_corpus: int, occupancy: int = IVF_STORE_CELL_OCC
) -> int:
    """Corpus-derived symmetric probe depth for the persisted-index
    near-dup: isqrt(3*N / (20*occ)) clamped to
    [IVF_STORE_NPROBE_MIN, IVF_STORE_NPROBE_MAX], evaluated as
    integer tier compares (m >= k iff x >= k*k) — the DuckDB twin
    unrolls the identical CASE ladder, so no float sqrt sits at a
    parity boundary. See the knob comment above for the derivation
    and the measured two-scale validation."""
    x = (IVF_STORE_FRAC_NUM * n_corpus) // (IVF_STORE_FRAC_DEN * occupancy)
    m = IVF_STORE_NPROBE_MIN + sum(
        int(x >= k * k)
        for k in range(IVF_STORE_NPROBE_MIN + 1, IVF_STORE_NPROBE_MAX + 1)
    )
    return m


def ivf_cosine_neardup_pairs(
    emb: DataFrame,
    threshold: float,
    n_clusters: int | None = None,
    nprobe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_iter: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via LEARNED buckets: Lloyd/IVF coarse
    quantizer (ann.lloyd_build — bit-exact across engines), each
    vector multi-assigned to its `nprobe` nearest centroids (Lv-style
    probing on the index side), candidates = pairs sharing ANY
    assigned centroid, exact cosine >= threshold on candidates only.

    `n_clusters`/`nprobe` default to the CORPUS-ADAPTIVE knob
    (adaptive_ncent / adaptive_nprobe): one O(metadata) count sizes
    the quantizer at constant mean cell occupancy — the same 1-action
    class as connected-components' convergence signature, and the
    difference between linear and quadratic candidate mass at scale
    (perf_scale_r12ops.py measures the x10 curve). Explicit values
    still override (the scale probes and evals pass their own).

    Scale shape: the quantizer is n_clusters tiny rows (broadcast
    everywhere it appears); assignment is ONE map-only Arrow pass —
    `veckernel.assign_topm` computes each vector's top-nprobe cells in
    a vectorized NumPy kernel that is bit-identical to the interpreted
    fold + rank window it replaces, removing the N x n_clusters
    crossJoin AND the per-vector rank shuffle (r12 optimization round;
    the fold was CodegenFallback and dominated this op's wall). The
    candidate self-join shuffles SLIM (id, cluster) longs only —
    vectors attach once per DISTINCT candidate pair via two id-equi
    joins, so the nprobe^2 candidate fan-out never carries vector
    payloads across the wire; the exact-cosine verify's per-pair dot
    is the Arrow kernel too (norms stay hoisted per row). Same-pair
    multi-cluster hits collapse in the DISTINCT (map-side partial).
    Unlike the data-oblivious hyperplane sketch, learned buckets adapt
    to corpus geometry: measured 2.4x fewer candidates at HIGHER
    recall on the fixture (see `dedup_cosine_ivf_eval` for the full
    nprobe curve and `dedup_cosine_eval_report` for the sketch's)."""
    from vector_search_ner_spark.functions.vector import (
        l2_norm,
        to_double_array,
    )
    from vector_search_ner_spark.operators import ann
    from vector_search_ner_spark.operators import veckernel as vk
    from vector_search_ner_spark.session import cut_lineage

    if n_clusters is None:
        n_clusters = adaptive_ncent(emb.count())
    if nprobe is None:
        nprobe = adaptive_nprobe(n_clusters)
    if n_iter is None:
        # lazy import: the Lloyd unroll depth is owned by the oracle
        # side's shared constant — passing it explicitly (ADVICE r11)
        # means the two can never drift apart silently
        from vector_search_ner_spark.plans.queries_mlops import _LLOYD_ITER

        n_iter = _LLOYD_ITER
    _assigned, centroids = ann.lloyd_build(
        emb, n_clusters, n_iter=n_iter, id_col=id_col, vec_col=vec_col
    )
    docs = emb.select(
        F.col(id_col).alias("sid"), to_double_array(F.col(vec_col)).alias("dv")
    )
    # cut_lineage: the self-join below consumes asg TWICE — without a
    # materialization boundary the whole Lloyd chain re-derives per arm
    asg = cut_lineage(
        vk.assign_topm(docs, centroids, nprobe, "dv")
        .select("sid", "cluster_id")
    )
    a = asg.select(F.col("sid").alias("doc_a"), "cluster_id")
    b = asg.select(F.col("sid").alias("doc_b"), "cluster_id")
    cand = (
        a.join(b, "cluster_id")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    wb = emb.select(
        F.col(id_col).alias("sid"),
        F.col(vec_col).alias("v"),
        l2_norm(F.col(vec_col)).alias("nrm"),  # once per row, not per pair
    )
    x, y = wb.alias("x"), wb.alias("y")
    cos = vk.cosine_from_norms(
        F.col("x.v"), F.col("y.v"), F.col("x.nrm"), F.col("y.nrm")
    )
    return (
        cand.join(x, cand["doc_a"] == F.col("x.sid"))
        .join(y, cand["doc_b"] == F.col("y.sid"))
        .withColumn("cosine", F.round(cos, 4))
        .where(F.col("cosine") >= threshold)
        .select("doc_a", "doc_b", "cosine")
    )


def contamination_best_match(
    bench: DataFrame,
    train: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = SHINGLE_K,
    df_cap: int | None = DEFAULT_SHINGLE_DF_CAP,
) -> DataFrame:
    """Cross-corpus contamination check: for every BENCH document, the
    single TRAIN document with the highest word-k-gram Jaccard overlap
    (the eval-set-leaked-into-training-data audit).

    Scale shape: candidates come from a shingle equi-join with the
    bench side BROADCAST (an eval set is small; the train corpus never
    shuffles for it) and with train-side hot shingles above df_cap
    excluded — boilerplate shared by the whole corpus must not fan
    out quadratically or drag every train partition into the pair
    aggregation. The aggregation that crosses the wire is the slim
    DISTINCT (bench_id, train_id) pair set (map-side partial dedup),
    and each surviving pair is verified with the exact Jaccard over
    the FULL shingle sets, so reported overlaps are exact; only a
    bench doc whose every common shingle is boilerplate-hot loses its
    (meaningless) match row."""
    # materialize BOTH shingle frames (eager localCheckpoint — GC-
    # reclaimed once unreferenced, no session-lifetime cache pin):
    # each is consumed twice (explode for candidates + array for
    # verify), and the materialization boundary also stops
    # InferFiltersFromGenerate from pushing a size(shingles)>0 filter
    # below the projection — that inlines the whole gram-hash expression
    # into the filter, where the token-hash transform re-evaluates per
    # gram position (measured 100x slower on the bench side)
    bsh = (
        bench.select(
            F.col(id_col).alias("bench_id"), token_hashes60(F.col(text_col)).alias("__th")
        )
        .select("bench_id", gram_hashes60(F.col("__th"), k).alias("b_shingles"))
    )
    bsh = cut_lineage(bsh)
    tsh = (
        train.select(
            F.col(id_col).alias("train_id"), token_hashes60(F.col(text_col)).alias("__th")
        )
        .select("train_id", gram_hashes60(F.col("__th"), k).alias("t_shingles"))
    )
    tsh = cut_lineage(tsh)
    b_expl = bsh.select("bench_id", F.explode("b_shingles").alias("sh"))
    t_expl = tsh.select("train_id", F.explode("t_shingles").alias("sh"))
    if df_cap is not None:
        t_expl = _drop_hot_shingles(t_expl, df_cap)
    cand = (
        t_expl.join(F.broadcast(b_expl), "sh")
        .select("bench_id", "train_id")
        .dropDuplicates(["bench_id", "train_id"])
    )
    verified = cand.join(F.broadcast(bsh), "bench_id").join(tsh, "train_id")
    common = F.size(F.array_intersect(F.col("b_shingles"), F.col("t_shingles")))
    overlap = F.round(
        common / (F.size("b_shingles") + F.size("t_shingles") - common), 4
    )
    w = Window.partitionBy("bench_id").orderBy(F.col("overlap").desc(), F.col("train_id"))
    return (
        verified.withColumn("overlap", overlap)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("bench_id", "train_id", "overlap")
        .orderBy("bench_id")
    )


def incremental_lsh_dedup(
    shard: DataFrame,
    index_bands: DataFrame,
    index_shingles: DataFrame,
    threshold: float,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup a NEW shard against the PERSISTED shingle/minhash index of
    the existing corpus — the lakehouse completion of the dedup family
    (the engine analogue of the reference v2 store's ingest-into-an-
    existing-collection path, build_vectorstore.py:233-250): per new
    doc, the best-matching indexed doc with exact word-6-gram Jaccard
    >= threshold. `contamination_best_match` semantics, but O(new
    shard) compute instead of corpus x corpus — the corpus side is
    READ (two column-pruned parquet scans of the index artifacts), its
    tokenization is never re-run.

    Scale shape: the shard's band keys (map-only minhash, shard-sized)
    are BROADCAST into the probe join against the index's band table —
    the 100 TB posting list never shuffles, it is scanned once with the
    probe applied map-side (with the store bucketed BY key the scan is
    also partition-pruned). Candidates are the slim DISTINCT
    (new_id, dup_of) set; the index's shingle table is likewise probed
    with the broadcast candidate ids, so full shingle arrays are read
    only for verified candidates. Wall-clock vs existing-corpus size is
    therefore scan-bound, not join-bound (measured flat-ish at 1x vs
    10x corpus in perf_scale_dedup.py)."""
    # shard-sized; feeds bands + verify — same canonical stages as the
    # store build, so probe keys can never drift from stored keys
    ssh_raw = cut_lineage(shingle_frame(shard, text_col, id_col))
    ssh = ssh_raw.select(
        F.col("sid").alias("new_id"), F.col("hs").alias("n_shingles")
    )
    shard_bands = minhash_band_frame(ssh_raw).withColumnRenamed("sid", "new_id")
    cand = (
        index_bands.join(F.broadcast(shard_bands), ["band", "key"])
        .select("new_id", F.col("sid").alias("dup_of"))
        .dropDuplicates(["new_id", "dup_of"])
    )
    # cand is O(shard)-sized: BROADCAST it into the shingle probe too,
    # so the index's shingle table is scanned map-side, never shuffled
    # (first measured as an 18.7 MB exchange of the 10x shingle table
    # before the hint — the index side must never be a shuffle input).
    # The shard's own shingle table `ssh` is deliberately NOT
    # hint-broadcast: a daily shard can be a double-digit percentage of
    # the corpus, far beyond the 8 GB broadcast hard limit, and a
    # forced hint would remove AQE's runtime fallback. Left unhinted,
    # AQE broadcasts it when it is actually small (the bench/fixture
    # case) and falls back to a shard-sized shuffle otherwise — the
    # shuffle inputs are then only the candidate-pruned index rows and
    # the shard, both O(shard), never the index.
    verified = index_shingles.withColumnRenamed("sid", "dup_of").withColumnRenamed(
        "hs", "o_shingles"
    ).join(F.broadcast(cand), "dup_of").join(ssh, "new_id")
    common = F.size(F.array_intersect(F.col("n_shingles"), F.col("o_shingles")))
    jac = F.round(
        common / (F.size("n_shingles") + F.size("o_shingles") - common), 4
    )
    w = Window.partitionBy("new_id").orderBy(F.col("jaccard").desc(), F.col("dup_of"))
    return (
        verified.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("new_id", "dup_of", "jaccard")
        .orderBy("new_id")
    )


def sorted_neighborhood_pairs(
    docs: DataFrame,
    threshold: float,
    window: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernandez & Stolfo 1995,
    the merge/purge method) — the SORT-based alternative to LSH
    banding: order the corpus by a blocking key, then compare only
    records within `window` positions of each other in the global sort
    order. Candidate count is O(n * window) BY CONSTRUCTION — no
    banding parameters, no hot-shingle caps, and (unlike LSH) no
    dependence on duplicate-clique shape.

    Blocking key = the two SMALLEST 60-bit word-6-gram shingle hashes
    (a 2-minimum minhash over the SAME shingle sets the n-gram Jaccard
    family verifies with): near-dups share most shingles, hence almost
    surely their shingle-hash minima, so they sort adjacent even when
    their leading characters differ (a raw text-prefix key misses any
    edit in the first line). Verify = exact Jaccard over the full
    shingle sets — the identical measure as `jaccard_pairs`, so the
    two candidate generators are directly comparable on recall.

    Scale shape: ONE global range sort (Spark's orderBy = range
    partition + in-partition sort — the same machinery as
    sort-merge-join, proven at petabyte scale); the global rank is
    derived from per-partition offsets (one count row per partition
    broadcast back), NOT a single-partition window. The sorted frame
    is localCheckpoint'ed so both the offsets branch and the rank
    branch observe one materialized partitioning — partition ids are
    fixed by construction, and the checkpoint (not persist) keeps the
    logical plan flat for the low-memory probe discipline. The
    neighbor join is an equi-join on integer rank over slim rows
    (rank, sid, shingle-hash array); Jaccard verify touches
    only the O(n * window) candidates.

    Deterministic: rank order is (h1, h2, sid) — a total order — and
    the Jaccard is a ratio of set sizes over distinct 60-bit hashes,
    so the DuckDB oracle reproduces it bit-for-bit.
    Returns (doc_a, doc_b, gap, jaccard) with doc_a < doc_b.
    """
    from pyspark.sql import Window as W

    keyed = (
        docs.select(
            F.col(id_col).alias("sid"), token_hashes(F.col(text_col)).alias("__th")
        )
        .select("sid", gram_hashes60(F.col("__th")).alias("th"))
        .withColumn("__sorted", F.array_sort("th"))
        .select(
            "sid",
            "th",
            # try_element_at, not element_at: under ANSI mode (Spark 4
            # default) element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT
            # past the end, and a <6-token doc has exactly one whole-text
            # shingle hash — the coalesce fallback must see NULL, not die.
            F.try_element_at("__sorted", F.lit(1)).alias("h1"),
            F.coalesce(
                F.try_element_at("__sorted", F.lit(2)),
                F.try_element_at("__sorted", F.lit(1)),
            ).alias("h2"),
        )
    )
    chk = cut_lineage(
        keyed.orderBy("h1", "h2", "sid").withColumn("__pid", F.spark_partition_id())
    )
    counts = chk.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    w_off = W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long").alias("__off"),
    )
    w_in = W.partitionBy("__pid").orderBy("h1", "h2", "sid")
    # the ranked relation feeds BOTH sides of the neighbor join —
    # checkpoint before deriving the two views, or the whole rank
    # derivation (two windows + a join) re-executes per side
    ranked = cut_lineage(
        chk.join(F.broadcast(offsets), "__pid")
        .select("sid", "th", (F.col("__off") + F.row_number().over(w_in)).alias("rank"))
    )
    left = (
        ranked.select(
            F.col("rank").alias("rank_a"),
            F.col("sid").alias("sid_a"),
            F.col("th").alias("th_a"),
        )
        .withColumn("__d", F.explode(F.sequence(F.lit(1), F.lit(window - 1))))
        .select(
            (F.col("rank_a") + F.col("__d")).alias("rank_b"), "rank_a", "sid_a", "th_a"
        )
    )
    right = ranked.select(
        F.col("rank").alias("rank_b"),
        F.col("sid").alias("sid_b"),
        F.col("th").alias("th_b"),
    )
    cand = left.join(right, "rank_b")
    common = F.size(F.array_intersect("th_a", "th_b"))
    jac = F.round(
        common / (F.size("th_a") + F.size("th_b") - common).cast("double"), 4
    )
    return (
        cand.withColumn("jaccard", jac)
        .where(F.col("jaccard") >= threshold)
        .select(
            F.least("sid_a", "sid_b").alias("doc_a"),
            F.greatest("sid_a", "sid_b").alias("doc_b"),
            (F.col("rank_b") - F.col("rank_a")).cast("int").alias("gap"),
            "jaccard",
        )
    )
