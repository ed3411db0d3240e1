"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard, MinHash+LSH, SimHash.

Scale design (the 100 TB story):
  * exact dedup = one hash-groupBy shuffle on a 16-byte digest (not the
    document text) — shuffle payload is keys + doc ids only;
  * MinHash/LSH = each distinct shingle hashed once in the JVM, then one
    Arrow kernel takes every document's signature over its contiguous run
    of shingle rows and emits (doc_id, band, bucket) — no shuffle before
    the bucket self-join, where candidate pairs only ever meet inside a
    bucket: no O(n²) comparison, and bucket skew is bounded by band width
    (``minhash_banded``: the hash identity and the doc_id precondition);
  * SimHash = 64-bit signature per doc, near-dup = same signature (or
    Hamming-adjacent via rotate-and-bucket), again a key-only shuffle;
  * exact n-gram Jaccard verifies LSH candidates (the expensive check runs
    on the candidate set, never the corpus cross-product).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from finegourmet_spark.functions.partitioning import spread
from finegourmet_spark.operators.registry import query
from finegourmet_spark.operators.scratch import (
    phase_barrier as _phase_barrier,
    release,
    release_if_pressured,
    sliced_exchange,
)
from finegourmet_spark.sources.testdata import load_table as t


def normalized_text(col: str = "text") -> F.Column:
    return F.lower(F.trim(F.col(col)))


@query(
    "q_dedup_exact",
    oracle="""
    WITH hashed AS (
      SELECT doc_id, md5(lower(trim(text))) AS content_hash FROM documents
    ), ranked AS (
      SELECT doc_id, content_hash,
             row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn,
             COUNT(*) OVER (PARTITION BY content_hash) AS n_copies
      FROM hashed
    )
    SELECT doc_id, content_hash, n_copies, (rn = 1) AS is_survivor
    FROM ranked
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: hash-groupBy on md5(normalized text) with the
    lowest doc_id as the deterministic survivor (replaces ref A3
    dropDuplicates arbitrary-survivor, etl/transform.py:98,296)."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalized_text()).alias("content_hash")
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    wcnt = Window.partitionBy("content_hash")
    return d.select(
        "doc_id",
        "content_hash",
        F.count("*").over(wcnt).alias("n_copies"),
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


def shingle_seq(col: F.Column, n: int = 3) -> F.Column:
    """POSITIONAL word n-gram shingles of a document (duplicates kept, in
    token order), as an array<string> — element i is the shingle starting at
    token i of ``split(col, ' ')``. Winnowing/LM operators need the
    sequence; set-based dedup uses ``shingles`` (the distinct projection of
    this).

    One regexp_extract_all, no lambda: since the tokens are the text split
    on single spaces, shingle i is a substring of the text. The pattern
    matches zero-width at every token start (``^`` or just after a space)
    and captures the next n tokens in a lookahead; a start with fewer than
    n tokens left fails the lookahead and yields nothing, as the trailing
    incomplete shingles of the split form did.

    Why not lambdas? Catalyst's higher-order functions are CodegenFallback:
    the old zip_with-over-shifted-slices fold evaluated each element in the
    interpreter (n-1 concat lambdas plus a null filter per element).
    Building and exploding the distinct 3-shingles of the 5,000-document
    benchmark corpus took 0.55 s that way against 0.35 s for the regex
    (warm medians of 5, local[2] on a 4-core VM). (transform over a
    sequence was worse still: it re-splits the text per shingle.)

    The lookbehind is ``(?<= )``, not the equivalent-looking
    ``(?<![^ ])``: after a zero-width match the matcher advances one UTF-16
    unit, and between the halves of a surrogate pair (an emoji) the
    negative form matched and produced a bogus '?' shingle."""
    return F.regexp_extract_all(
        col, F.lit(f"(?:^|(?<= ))(?=([^ ]*(?: [^ ]*){{{n - 1}}}))"), 1
    )


def shingles(col: F.Column, n: int = 3) -> F.Column:
    """Distinct word n-gram shingles of a document, as an array<string>
    (the set view of ``shingle_seq`` — see there for the construction)."""
    return F.array_distinct(shingle_seq(col, n))


# DuckDB twin of `shingles` (3-gram): list_transform over range is end-exclusive
_SQL_SHINGLES = """
list_distinct(
  list_transform(
    range(1, greatest(len(string_split(lower(trim(text)), ' ')) - 2, 0) + 1),
    i -> string_split(lower(trim(text)), ' ')[i] || ' ' ||
         string_split(lower(trim(text)), ' ')[i+1] || ' ' ||
         string_split(lower(trim(text)), ' ')[i+2]
  )
)
"""



# shared oracle fragment: corpus-wide shingle-set pair statistics (used by
# both near-dup joins, so the "same near-dup decision" claim cannot drift)
_SQL_PAIR_CTES = f"""
    WITH sh AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), pair_inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
"""

NEAR_DUP_THETA = 0.5  # standard near-dup decision threshold


@query(
    "q_dedup_ngram_jaccard",
    oracle=f"""
    {_SQL_PAIR_CTES}
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common) AS jaccard
    FROM pair_inter p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE CAST(p.n_common AS DOUBLE) / (sa.n_shingles + sb.n_shingles - p.n_common)
          >= {NEAR_DUP_THETA}
    """,
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard over LSH-GATED candidate pairs — the composed
    scale shape (VERDICT r1 scale-killer #3: a corpus-wide shingle self-join
    has quadratic hot-shingle buckets; a stop-shingle key blows up at 100 TB).

    Shape: MinHash candidates (minhash_banded, 128 hashes banded as
    64 bands × 2 rows) → join each candidate pair back to its two shingle
    ARRAYS → exact Jaccard = |∩| / (|A|+|B|-|∩|) via array_intersect, one
    IEEE division. Only candidate pairs ever pay the exact comparison; the
    corpus-wide work is the linear MinHash signature pass.

    Gate-vs-oracle honesty (r2 review + r2 advisor): LSH capture probability
    is 1-(1-θ^r)^b. The r2 config (32 bands × 2 rows) missed a pair at the
    θ=0.5 decision threshold with probability ~1e-4 — deterministic per
    dataset, so on unlucky data the exact oracle could diverge. This config
    is 64 bands × 2 rows (128 hashes): miss probability 0.75^64 ≈ 1e-8 at
    θ=0.5 and ≈1e-26 at the θ≥0.9 pairs the generator emits — beyond any
    driver tolerance by a wide margin, at 4× q_dedup_minhash's per-shingle
    signature work (still linear; no shuffle before the bucket join).
    Recall vs the ungated corpus-wide exact formulation is asserted in
    tests/test_llm_ops.py."""
    docs = t(spark, sf_dir, "documents")
    # The exact-verify join ships each candidate doc's shingle SET twice
    # across the cluster. Carry xxhash64(shingle) longs (8 B) instead of
    # the raw n-gram text (~40 B): ~5× less verify-join shuffle — the
    # term that high-watered 28.4 GB at sf100-mut (5M docs) and, stacked
    # under the CC pins, hit q_dedup_clusters' host disk bound (r11).
    # Exactness is unchanged up to 64-bit collisions INSIDE one candidate
    # pair's shingle sets (P ≈ |A|·|B|/2⁶⁴ ≈ 1e-15 per pair — far below
    # the driver's hash tolerance; the DuckDB oracle keeps true strings).
    d = spread(docs).select(
        "doc_id",
        F.transform(shingles(normalized_text()), lambda s: F.xxhash64(s)).alias("sh"),
    ).filter(F.size("sh") > 0)
    banded = minhash_banded(docs, n_hashes=128, n_bands=64)
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    pairs = cand.join(
        d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a")), "doc_a"
    ).join(d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b")), "doc_b")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    scored = pairs.select(
        "doc_a",
        "doc_b",
        (
            n_common.cast("double")
            / (F.size("sh_a") + F.size("sh_b") - n_common)
        ).alias("jaccard"),
    )
    return scored.filter(F.col("jaccard") >= NEAR_DUP_THETA)


CC_MAX_ROUNDS = 15  # shared bound: Spark loop errors out past this


def unrolled_min_label_sql(prelude: str, node_source: str, id_name: str) -> str:
    """DuckDB connected-components oracle builder: the same min-label
    propagation as ``min_label_components``, UNROLLED to CC_MAX_ROUNDS
    materialized rounds over a caller-supplied pair graph.

    ``prelude``: CTE definitions text ending with a CTE named ``pairs``
    with columns (da, db). ``node_source``: SELECT producing one ``node``
    column (all graph nodes, including isolated ones). ``id_name``: output
    id column name.

    An earlier formulation used a recursive-CTE transitive closure
    (reach = node × every reachable label, global UNION-dedup per step) —
    exact, but O(Σ cluster_size²) state: on an sf1 corpus with 10-copy
    duplicate clusters it ran ~35 minutes while the Spark side took 24 s.
    Min-label unrolling is O(edges) per round × 15 rounds and is EXACTLY
    equivalent whenever the Spark loop succeeds at all: the loop raises
    after the same 15 rounds, and rounds past convergence are no-ops, so
    both sides settle on identical labels."""
    rounds = []
    prev = "l0"
    for i in range(1, CC_MAX_ROUNDS + 1):
        cur = f"l{i}"
        rounds.append(
            f"""{cur} AS MATERIALIZED (
  SELECT l.node, least(l.label, COALESCE(x.m, l.label)) AS label
  FROM {prev} l LEFT JOIN (
    SELECT e.u AS node, MIN(n.label) AS m
    FROM edges e JOIN {prev} n ON n.node = e.v
    GROUP BY e.u
  ) x USING (node)
)"""
        )
        prev = cur
    chained = ",\n".join(rounds)
    return f"""
WITH {prelude},
edges AS MATERIALIZED (
  SELECT da AS u, db AS v FROM pairs UNION ALL SELECT db, da FROM pairs
), l0 AS (
  SELECT node, node AS label FROM ({node_source})
),
{chained}
SELECT node AS {id_name}, label AS cluster_id,
       COUNT(*) OVER (PARTITION BY label) AS cluster_size,
       (node = label) AS is_survivor
FROM {prev}
"""


_CC_PRELUDE = f"""sh AS (
  SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM documents
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
), pair_inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
), pairs AS (
  SELECT p.da, p.db FROM pair_inter p
  JOIN sizes sa ON p.da = sa.doc_id JOIN sizes sb ON p.db = sb.doc_id
  WHERE CAST(p.c AS DOUBLE) / (sa.n + sb.n - p.c) >= {NEAR_DUP_THETA}
)"""

_CC_ORACLE = unrolled_min_label_sql(
    _CC_PRELUDE, "SELECT doc_id AS node FROM documents", "doc_id"
)


def min_label_components(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str,
    pair_cols: tuple[str, str] = ("doc_a", "doc_b"),
) -> DataFrame:
    """Connected components by iterative min-label propagation: per round,
    every node takes min(own label, neighbors' labels). Each round is one
    equi-join + one hash-agg, lineage cut by an eager localCheckpoint (the
    standard Spark iterative-algorithm pattern), and that checkpoint is the
    round's only action: an ``Observation`` on the same frame counts the
    nodes whose label dropped. Labels only decrease, so a round where none
    dropped is the fixpoint; the count works for any orderable id type and
    cannot overflow. Rounds needed ≤ graph diameter + 1 — tiny for the
    near-dup, fuzzy-name and DBSCAN core graphs this serves.

    ``pairs``: one row per undirected edge. ``nodes``: one row per node
    (column ``id_col``; isolated nodes label themselves). Returns
    (id_col, cluster_id) with cluster_id = the component's min node id,
    backed by one pin (its blocks): each round releases the previous
    round's labels, and the edge pin is released before returning.
    Raises after CC_MAX_ROUNDS non-converged rounds — the same bound the
    unrolled SQL oracle carries, keeping both sides exactly equivalent."""
    a, b = pair_cols
    edges = pairs.select(F.col(a).alias("u"), F.col(b).alias("v")).unionAll(
        pairs.select(F.col(b).alias("u"), F.col(a).alias("v"))
    )
    edges = edges.localCheckpoint(eager=True)  # evaluate the pair gate once

    # The pair gate behind ``pairs`` can be shuffle-heavy (the sf100-mut
    # ngram gate writes ~28 GB); after the pin its shuffle files are dead
    # but sit on disk until a JVM GC hands them to the ContextCleaner —
    # stacked under the CC rounds' own blocks that high-water filled this
    # host's 59 GB scratch (measured r11: q_dedup_clusters died
    # "No space left on device" at sf100-mut). Reuse the graph ops'
    # release-and-poll, gated on the scratch volume's reclaim ratio
    # (ADVICE r11 — was an absolute 8 GiB tied to this host) so
    # test-scale calls pay nothing and small-volume hosts still fire.
    # At 100 TB per-executor scratch gets the same bound.
    release_if_pressured(pairs.sparkSession)

    labels = nodes.select(id_col, F.col(id_col).alias("cluster_id"))
    try:
        for i in range(CC_MAX_ROUNDS):  # >= diameter of any real dup cluster
            neigh = (
                edges.join(labels, edges["v"] == labels[id_col])
                .groupBy("u")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            dropped = Observation()
            nxt = (
                labels.join(neigh, labels[id_col] == neigh["u"], "left")
                .observe(
                    dropped,
                    F.count_if(F.col("nbr_min") < F.col("cluster_id")).alias("n"),
                )
                .select(
                    id_col,
                    F.least(
                        F.col("cluster_id"), F.coalesce("nbr_min", "cluster_id")
                    ).alias("cluster_id"),
                )
                .localCheckpoint(eager=True)
            )
            if i:
                release(labels)  # round 1 reads ``nodes`` itself, no pin
            labels = nxt
            if dropped.get["n"] == 0:
                return labels
        release(labels)
        raise RuntimeError("min_label_components: label propagation did not converge")
    finally:
        release(edges)


@query("q_dedup_clusters", oracle=_CC_ORACLE)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution: connected components over the θ≥0.5
    exact-Jaccard pair graph, canonical survivor = the component's minimum
    doc_id — the step that turns pair lists into actual keep/drop decisions
    (transitive chains a→b→c collapse to ONE cluster even when a↔c alone
    is below threshold).

    Distributed shape: ``min_label_components`` (iterative min-label
    propagation, one localCheckpoint action per round — see there). A
    component with a node CC_MAX_ROUNDS hops from its minimum raises
    rather than mislabel."""
    pairs = q_dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id")
    labels = min_label_components(pairs, docs, "doc_id")
    from pyspark.sql.window import Window

    wc = Window.partitionBy("cluster_id")
    return labels.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(wc).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_survivor"),
    )


# --- MinHash + LSH ---------------------------------------------------------

N_HASHES = 32
N_BANDS = 8  # 4 rows per band

# Spark's XXH64 (catalyst ``expressions.XXH64``): its primes and the int and
# long steps ``xxhash64`` applies per column, in numpy's wrapping uint64
# arithmetic. Spark's multi-column ``xxhash64(c1, c2, ...)`` seeds each
# column's hash with the previous column's (the first with 42), so
# ``xxhash64(s, lit(i)) = hashInt(i, xxhash64(s))`` and
# ``xxhash64(lit(b), h1, h2) = hashLong(h2, hashLong(h1, hashInt(b, 42)))``.
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)
_XXH_SEED = 42


def _rotl(x, r: int):
    import numpy as np

    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _xxh_finish(h, rot: int, mul: int, add: int):
    """XXH64's last round (``rotl(h, rot) * mul + add``) and avalanche."""
    import numpy as np

    h = _rotl(h, rot) * np.uint64(mul) + np.uint64(add)
    h ^= h >> np.uint64(33)
    h *= np.uint64(_P2)
    h ^= h >> np.uint64(29)
    h *= np.uint64(_P3)
    h ^= h >> np.uint64(32)
    return h


def _xxh_hash_int(i, seed):
    """``XXH64.hashInt(i, seed)`` elementwise over broadcasting arrays: ``i``
    ints, ``seed`` uint64."""
    import numpy as np

    k = (i.astype(np.uint64) & np.uint64(0xFFFFFFFF)) * np.uint64(_P1)
    return _xxh_finish((seed + np.uint64(_P5 + 4)) ^ k, 23, _P2, _P3)


def _xxh_hash_long(v, seed):
    """``XXH64.hashLong(v, seed)`` elementwise over uint64 arrays."""
    import numpy as np

    k = _rotl(v * np.uint64(_P2), 31) * np.uint64(_P1)
    return _xxh_finish((seed + np.uint64(_P5 + 8)) ^ k, 27, _P1, _P4)


def _minhash_bands(batches, n_hashes: int, n_bands: int):
    """Arrow batches of (doc_id, h = xxhash64(shingle)), each document's rows
    contiguous → batches of (doc_id, band, bucket).

    Signature row i of a document is the signed min over its shingles of
    ``hashInt(i, h)`` (= ``xxhash64(shingle, lit(i))``); band b's bucket
    chains ``hashLong`` over the band's rows from ``hashInt(b, 42)`` (=
    ``xxhash64(lit(b), h_b0, h_b1, ...)``). A document's run may continue
    into the next batch, so the last run of each batch stays open: only its
    n_hashes partial mins are carried, never its rows, and the working set
    is the batch's rows × n_hashes whatever the document's length.
    Module-level so reused Python workers keep it importable."""
    import numpy as np
    import pyarrow as pa

    rows = np.arange(n_hashes)
    bands = np.arange(n_bands, dtype=np.int32)
    band_seed = _xxh_hash_int(bands, np.full(n_bands, _XXH_SEED, dtype=np.uint64))

    def banded(ids, mins):
        sig = mins.view(np.uint64).reshape(len(ids), n_bands, -1)
        bucket = np.broadcast_to(band_seed, sig.shape[:2])
        for r in range(sig.shape[2]):
            bucket = _xxh_hash_long(sig[:, :, r], bucket)
        return pa.RecordBatch.from_arrays(
            [
                pa.array(np.repeat(ids, n_bands)),
                pa.array(np.tile(bands, len(ids))),
                pa.array(bucket.ravel().view(np.int64)),
            ],
            names=["doc_id", "band", "bucket"],
        )

    open_id = open_min = None
    for rb in batches:
        if not rb.num_rows:
            continue
        ids = rb.column(0).to_numpy(zero_copy_only=False)
        h = rb.column(1).to_numpy().view(np.uint64)
        starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        sig = _xxh_hash_int(rows[None, :], h[:, None]).view(np.int64)
        mins = np.minimum.reduceat(sig, starts, axis=0)
        run_ids = ids[starts]
        if open_id is not None:
            if run_ids[0] == open_id[0]:
                np.minimum(mins[0], open_min[0], out=mins[0])
            else:
                run_ids = np.concatenate([open_id, run_ids])
                mins = np.concatenate([open_min, mins])
        if len(run_ids) > 1:
            yield banded(run_ids[:-1], mins[:-1])
        open_id, open_min = run_ids[-1:].copy(), mins[-1:].copy()
    if open_id is not None:
        yield banded(open_id, open_min)


def minhash_banded(docs: DataFrame, n_hashes: int = N_HASHES, n_bands: int = N_BANDS) -> DataFrame:
    """(doc_id, band, bucket) LSH assignments: ``n_hashes`` MinHash rows per
    document, banded ``n_bands`` ways.

    Shape: explode each document's distinct shingles and hash each ONCE in
    the JVM (``xxhash64(shingle)``, codegen), then one ``mapInArrow``
    kernel (``_minhash_bands``) derives the signature rows as
    ``hashInt(i, h)``, takes each document's min over its contiguous run
    of rows and emits the bands' buckets; nothing is shuffled before the
    consumer's bucket join. Spark's multi-column xxhash64 seeds each
    column's hash with the previous column's, so the values are bit for
    bit ``min(xxhash64(shingle, lit(i)))`` per doc_id and
    ``xxhash64(lit(b), band rows...)`` (the JVM reference in
    tests/test_hot_path_kernels.py).

    Precondition: ``doc_id`` is the table's key. A document's rows must be
    one run within one partition, which holds when each doc_id is one row
    of ``docs``. Rows with a null ``doc_id`` are dropped first: they could
    never pair, because ``a.doc_id < b.doc_id`` is null."""
    # widen degenerate scan partitioning BEFORE the ~200x shingle fan-out
    # (no-op whenever the scan already has >= cores splits — i.e. at scale)
    hashed = (
        spread(docs)
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.explode(shingles(normalized_text())).alias("shingle"))
        .select("doc_id", F.xxhash64("shingle").alias("h"))
    )
    id_type = docs.schema["doc_id"].dataType.simpleString()

    def bands(batches):
        yield from _minhash_bands(batches, n_hashes, n_bands)

    banded = hashed.mapInArrow(bands, f"doc_id {id_type}, band int, bucket long")
    # Both consumers SELF-JOIN this frame, and Spark's ReuseExchange does
    # not fire across the band/bucket join's two sides here (verified on
    # the executed AQE plan: 2 full scans, 0 ReusedExchange) — without a
    # materialization barrier the whole shingle-explode + signature kernel
    # runs twice (q_dedup_minhash on the 5,000-document benchmark fixture,
    # cache-cleared medians on local[2]: 1.19 s pinned, 1.68 s unpinned).
    # The barrier is a DISK_ONLY pin + eager count, NOT localCheckpoint:
    # localCheckpoint stores MEMORY_AND_DISK deserialized blocks, and
    # reading those back promotes them into the heap
    # (BlockManager.maybeCacheDiskValuesInMemory) — at sf100-mut the
    # 128-hash/64-band ngram-gate config makes this frame 320M rows
    # (5M docs × 64 bands), whose deserialized promotion OOMed a 24 GB
    # heap (measured r11 — the same MEMORY_AND_DISK failure class as
    # r10's item-item CF fix). DISK_ONLY blocks never enter the heap
    # cache; the triples stay docs × n_bands longs on disk, text-free.
    from pyspark import StorageLevel

    banded = banded.persist(StorageLevel.DISK_ONLY)
    banded.count()  # materialize the pin eagerly (one linear pass)
    return banded


@query("q_dedup_minhash")  # rows-only: hash seeds are engine-specific
def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → 32-hash MinHash signature →
    8 bands → (band, bucket) → self-equi-join on the bucket → candidate
    pairs. The only shuffles move (doc_id, band, bucket) triples — at 100 TB
    the text never moves, and banding bounds bucket sizes. Exact-Jaccard
    verification of candidates is q_dedup_ngram_jaccard. xxhash64 seeds are
    Spark-specific → rows-only driver check; semantics are pytest-verified
    against exact Jaccard (tests/test_llm_ops.py)."""
    banded = minhash_banded(t(spark, sf_dir, "documents"))
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    return pairs


@query("q_dedup_minhash_ml")  # rows-only: ml hash coefficients are seeded internally
def q_dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """spark.ml-native MinHash: HashingTF (shingles → sparse counts) →
    MinHashLSH.approxSimilarityJoin at Jaccard-distance ≤ 0.8 — the library
    path beside the custom relational MinHash (q_dedup_minhash), kept for
    parity with spark.ml pipelines and as a cross-check of the custom
    implementation (both must recall the same near-dup pairs —
    tests/test_llm_ops.py)."""
    from pyspark.ml.feature import HashingTF, MinHashLSH

    d = t(spark, sf_dir, "documents").select(
        "doc_id", shingles(normalized_text()).alias("sh")
    )
    # sub-shingle docs get a sentinel shingle instead of a filter: MinHashLSH
    # rejects all-zero vectors, and Catalyst gives no filter-before-UDF
    # guarantee (the LSH hash UDF can run before a size() filter). Empty docs
    # then only ever pair with other empty docs — the correct semantics.
    d = d.select(
        "doc_id",
        F.when(F.size("sh") > 0, F.col("sh")).otherwise(F.array(F.lit("\x00empty"))).alias("sh"),
    )
    tf = HashingTF(inputCol="sh", outputCol="features", numFeatures=1 << 18)
    feats = tf.transform(d)
    lsh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=8, seed=42)
    model = lsh.fit(feats)
    # merge-hint both sides: approxSimilarityJoin's internal bucket join
    # plans off Catalyst size ESTIMATES, which are unreliable on
    # SparseVector UDT columns — at sf10 (500k docs) it picked a broadcast
    # whose build-side collect tripped spark.driver.maxResultSize (1 GB).
    # A corpus self-join must never broadcast the corpus; the hint rides
    # the ResolvedHint node through the library's explode into its join.
    pairs = model.approxSimilarityJoin(
        feats.hint("merge"), feats.hint("merge"), 0.8, distCol="jaccard_dist"
    )
    return (
        pairs.filter(F.col("datasetA.doc_id") < F.col("datasetB.doc_id"))
        .select(
            F.col("datasetA.doc_id").alias("doc_a"),
            F.col("datasetB.doc_id").alias("doc_b"),
            F.round(F.lit(1.0) - F.col("jaccard_dist"), 6).alias("jaccard_sim"),
        )
    )


def _simhash_popcount_batches(it):
    """Arrow batches of (doc_id, hashes) → (doc_id, simhash), vectorized.

    Reproduces the JVM per-bit majority vote EXACTLY: bit j is set iff
    vote_j = Σ_tokens (±1) > 0 ⇔ 2·popcount_j > n_tokens (vote = 2·pop −
    n, integer comparison — no rounding anywhere). numpy's little-endian
    byte view + unpackbits(bitorder='little') makes column j equal
    (h >> j) & 1, so bit 63 (the JVM's min-long mask special case) is
    just column 63 in the unsigned domain; the assembled uint64 is
    viewed back as int64. Null/empty hash arrays yield simhash 0 —
    identical to the JVM fold's null-vote → otherwise(0) path.
    Module-level so reused Python workers keep it importable (§4.5)."""
    import numpy as np
    import pandas as pd

    for pdf in it:
        lens = np.fromiter(
            (0 if h is None else len(h) for h in pdf["hashes"]),
            dtype=np.int64,
            count=len(pdf),
        )
        sims = np.zeros(len(pdf), dtype=np.uint64)
        if lens.sum() > 0:
            flat = np.concatenate(
                [
                    np.asarray(h, dtype=np.int64)
                    for h in pdf["hashes"]
                    if h is not None and len(h)
                ]
            )
            bits = np.unpackbits(
                flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
            )  # (n_tokens, 64) uint8 — column j == (h >> j) & 1
            starts = np.zeros(len(pdf), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            nonempty = lens > 0
            pops = np.zeros((len(pdf), 64), dtype=np.int64)
            # reduceat over the nonempty docs only (an empty doc's
            # popcounts stay 0 — reduceat mishandles 0-length segments).
            # Accumulated straight from the uint8 bits in int32 (a count
            # is at most the doc's token count), so no int64 copy of
            # ``bits`` (8x its size) is made per batch.
            pops[nonempty] = np.add.reduceat(
                bits, starts[nonempty], axis=0, dtype=np.int32
            )
            bitvals = (2 * pops > lens[:, None]).astype(np.uint64)
            sims = (bitvals << np.arange(64, dtype=np.uint64)[None, :]).sum(
                axis=1, dtype=np.uint64
            )
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"], "simhash": sims.view(np.int64)}
        )


@query("q_dedup_simhash")  # rows-only: xxhash64 is engine-specific
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (64-bit) per document: weighted majority vote per bit over
    token hashes — for bit j, sign of Σ_tokens (bit_j(xxhash64(tok)) ? 1
    : -1). Near-dups share signatures. Output: doc_id, simhash, and
    bucket population (docs per signature).

    r14 (VERDICT r13 item 4, guide §4.1/§4.2): the vote runs as ONE
    Arrow mapInPandas popcount (`_simhash_popcount_batches` — numpy
    unpackbits + add.reduceat per doc) instead of 64 interpreted
    ArrayAggregate folds per document. Catalyst's HOFs are
    CodegenFallback — 64 passes/doc, each per-element interpreted — and
    the 64-fold expression tree also paid real planning time each build.
    The Arrow form moves BOTH terms the right way (the r13 dot()-unroll
    experiment moved them opposite ways and was rejected): measured
    rebuild-per-run A/B in OPTIMIZATION_r14.md (exact-equality-gated).
    Signature values are bit-identical to the old fold by construction:
    2·popcount_j > n ⇔ vote_j > 0, and the uint64 assembly reproduces
    the shiftleft/bitwiseOR fold including bit 63 (sign bit) — pinned by
    tests/test_llm_ops.py's reference-equality test. Only (doc_id, hashes)
    cross the boundary (§4.1 — project before the opaque op); xxhash64
    tokenization stays JVM-side; the bucket-count window stays JVM-side
    after.
    Session-conf independent (no arithmetic that can ANSI-overflow:
    numpy uint64 domain)."""
    d = spread(t(spark, sf_dir, "documents")).select(
        "doc_id", normalized_text().alias("txt")
    )
    toks = F.array_distinct(F.split(F.col("txt"), " "))
    d = d.select("doc_id", F.transform(toks, lambda s: F.xxhash64(s)).alias("hashes"))
    sigs = d.mapInPandas(
        _simhash_popcount_batches, schema="doc_id long, simhash long"
    )
    from pyspark.sql.window import Window

    wcnt = Window.partitionBy("simhash")
    return sigs.select("doc_id", "simhash", F.count("*").over(wcnt).alias("bucket_size"))


@query(
    "q_dedup_incremental",
    oracle="""
    WITH h AS (
      SELECT doc_id, md5(lower(trim(text))) AS content_hash FROM documents
    ), old AS (
      SELECT DISTINCT content_hash FROM h WHERE doc_id % 2 = 0
    ), ranked AS (
      SELECT doc_id, content_hash,
             row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rk,
             content_hash IN (SELECT content_hash FROM old) AS dup_of_corpus
      FROM h WHERE doc_id % 2 = 1
    )
    SELECT doc_id, content_hash, dup_of_corpus,
           rk > 1 AS dup_in_batch,
           (NOT dup_of_corpus) AND rk = 1 AS keep
    FROM ranked
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL exact dedup — the production shape: a new ingest batch is
    deduplicated against the already-curated corpus (and within itself)
    without ever rescanning corpus text. The corpus side is represented by
    its 16-byte digest set (at 100 TB that digest table is what you persist
    between refreshes); the batch joins it on the digest and window-ranks
    within itself. Here "corpus" = even doc_ids, "batch" = odd doc_ids, a
    deterministic stand-in for two ingest generations.

    Flags per batch doc: dup_of_corpus (digest already curated),
    dup_in_batch (a lower-id batch doc has the same digest), keep (neither).

    Scale shape: both sides shuffle ONLY (digest, doc_id); the left join and
    the window share the content_hash partitioning, so one exchange per
    side. No text moves, no driver materialization."""
    from pyspark.sql.window import Window

    d = t(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalized_text()).alias("content_hash")
    )
    old_hashes = (
        d.filter(F.col("doc_id") % 2 == 0)
        .select("content_hash")
        .distinct()
        .withColumn("in_corpus", F.lit(True))
    )
    batch = d.filter(F.col("doc_id") % 2 == 1)
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        batch.join(old_hashes, "content_hash", "left")
        .withColumn("rk", F.row_number().over(w))
        .select(
            "doc_id",
            "content_hash",
            F.coalesce("in_corpus", F.lit(False)).alias("dup_of_corpus"),
            (F.col("rk") > 1).alias("dup_in_batch"),
            (
                ~F.coalesce("in_corpus", F.lit(False)) & (F.col("rk") == 1)
            ).alias("keep"),
        )
    )


# _phase_barrier moved verbatim to operators/scratch.py::phase_barrier
# (VERDICT r12 item 4) — imported above under the old name.


SETSIM_THETA_NUM, SETSIM_THETA_DEN = 1, 2  # Jaccard threshold θ = 1/2


@query(
    "q_setsim_join_prefix",
    oracle=f"""
    {_SQL_PAIR_CTES}
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS BIGINT) AS n_common,
           CAST(sa.n_shingles + sb.n_shingles - p.n_common AS BIGINT)
             AS n_union,
           CAST((1000000 * p.n_common)
                // (sa.n_shingles + sb.n_shingles - p.n_common)
                AS BIGINT) AS jac_ppm
    FROM pair_inter p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE {SETSIM_THETA_DEN} * p.n_common
          >= {SETSIM_THETA_NUM} * (sa.n_shingles + sb.n_shingles - p.n_common)
    """,
)
def q_setsim_join_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard ≥ θ=1/2 self-join via PREFIX FILTERING
    (PPJoin family) — the guaranteed-complete counterpart of the LSH-gated
    q_dedup_ngram_jaccard: same near-dup decision, but no pair above θ can
    be missed by construction (vs the gate's 1e-8 miss probability), so the
    corpus-wide exact oracle is safe to register.

    Candidate generation (full PPJoin, r13 — was AllPairs through r12;
    prefix-MERGE bound r14): order every doc's shingles rarest-first
    (global document frequency, shingle tie-break — ONE canonical order
    shared by all docs), keep only the first |x| − ⌈θ|x|⌉ + 1, and
    equi-join docs sharing a prefix shingle, pruned by THREE exact
    filters: the length filter (θ|x| ≤ |y|), the prefix filter (sharing
    nothing in x's prefix caps overlap at ⌈θ|x|⌉ − 1 < the required
    ⌈θ·max(|x|,|y|)⌉), and the prefix-MERGE positional filter (r14 —
    the r13 first-match form tightened with every shared prefix token):
    the c shared prefix tokens' last positions bound overlap
    ≤ c + min(|x|−pc, |y|−qc), which must reach
    α = ⌈θ/(1+θ)·(|x|+|y|)⌉ (see the inline proof at the candidate
    join; the asymmetric short-indexing-prefix variant was measured and
    reverted — inline note there). The positional filter is the VERDICT r12 item-2 lever: at
    sf100-mut the prefix+length gate alone passed 152.4M candidates of
    which only 2.6M survived verify (58:1); position information prunes
    before the verify join ships any shingle array. Scale shape: the
    candidate join keys on each doc's RAREST shingles, so bucket sizes
    stay bounded exactly where a naive shingle self-join develops
    quadratic hot-shingle buckets (VERDICT r1 scale-killer #3) — prefix
    filtering is the deterministic answer to the skew the LSH gate
    dodges probabilistically. Exact verify touches candidates only
    (arrays co-shipped by doc-keyed joins); Jaccard is reported as
    floor-ppm, integer-exact end to end.

    Shingles are hashed to xxhash64 longs AT TOKENIZE TIME (r12, the
    q_dedup_ngram_jaccard r11 trick applied one level earlier): every
    downstream exchange — the df-count shuffle, the rarest-first
    collect_list, the prefix equi-join, and both doc-keyed verify joins —
    ships 8 B longs instead of ~40 B n-gram text (~5× less shuffle; this
    was the class that cost q_dedup_ngram_jaccard 1239.6→710.8 s at
    sf100-mut). Canonical order becomes (df, hash) — still one total order
    shared by all docs, so prefix completeness is untouched. Collision
    exposure (ADVICE r12 — state the corpus-level bound, not just the
    per-doc one): within one doc P ≈ |x|²/2⁶⁴ ≈ 1e-15, and across the
    corpus the driver-visible mismatch probability is the SUM of
    |x|·|y|/2⁶⁴ over candidate pairs — ≈1e-7 at sf100-mut's ~1.5e8
    candidates — still far below any driver tolerance; the DuckDB oracle
    keeps true strings."""
    docs = t(spark, sf_dir, "documents")
    tok = (
        spread(docs)
        .select(
            "doc_id",
            F.transform(
                shingles(normalized_text()), lambda s: F.xxhash64(s)
            ).alias("tk"),
        )
        .filter(F.size("tk") > 0)
    )
    terms = tok.select("doc_id", F.explode("tk").alias("term"))
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    def _ordered_of(t_slice: DataFrame) -> DataFrame:
        # canonical rarest-first per-doc order; prefix keeps
        # |x|-⌈θ|x|⌉+1 tokens. Per-doc, so any doc-subset computes its
        # rows independently given the GLOBAL dfreq.
        return (
            t_slice.join(dfreq, "term")
            .groupBy("doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("df"), F.col("term")))
                ).alias("stk")
            )
            .select(
                "doc_id",
                F.size("stk").alias("sz"),
                F.expr(
                    "transform(slice(stk, 1, size(stk) - "
                    f"ceil({SETSIM_THETA_NUM} * size(stk) "
                    f"/ {SETSIM_THETA_DEN}) + 1"
                    "), x -> x.term)"
                ).alias("prefix"),
            )
        )

    # Token-prep scratch governor (r12, measured need): at sf100-mut
    # (5M docs, 260M shingle rows, 24 GB heap) the rarest-first
    # sort-agg and the terms⋈dfreq join sorts cross the in-memory
    # threshold and spill ~everything — two ENOSPC deaths at ~60 GB free
    # scratch, while sf30-mut (78M rows) runs in 2.6 GB. The per-doc
    # prefix needs only the GLOBAL df table, so SPARK_GRAFT_SETSIM_PASSES=K
    # slices token-prep by doc hash: dfreq is computed once and pinned
    # DISK_ONLY, each slice's sort covers rows/K (back under the
    # in-memory threshold), its doc-scale output is pinned and its dead
    # shuffles released before the next slice writes (_phase_barrier).
    # Candidates/verify then run ONCE over the union — pair completeness
    # is untouched because slicing only partitions the per-doc prep.
    try:
        prep_passes = max(
            1, int(os.environ.get("SPARK_GRAFT_SETSIM_PASSES", "1"))
        )
    except ValueError:
        prep_passes = 1
    if prep_passes == 1:
        # doc-scale (one row per doc, ≤ ~prefix-length longs each): pin it
        # and release the token-prep exchanges before the candidate phase
        ordered = _phase_barrier(_ordered_of(terms))
    else:
        from pyspark import StorageLevel

        # tok feeds every prep slice and both sides of every verify
        # slice — pin it (DISK_ONLY: array frames are the r11
        # heap-promotion class) instead of re-running the scan+explode
        # 3K times; dfreq materializes once for all slices.
        tok = tok.persist(StorageLevel.DISK_ONLY)
        dfreq = dfreq.persist(StorageLevel.DISK_ONLY)
        dfreq.count()  # materialize once; reused by every slice
        ordered = sliced_exchange(
            terms,
            ["doc_id"],
            prep_passes,
            _ordered_of,
            label="setsim prep slice",
        )
        dfreq.unpersist(blocking=False)
    # prefix tokens carry their 1-based POSITION in the doc's canonical
    # order (prefix = the first tokens of that order, so position-in-
    # prefix == position-in-doc) — the PPJoin positional filter needs it
    pre = ordered.select(
        "doc_id", "sz", F.posexplode("prefix").alias("p0", "term")
    ).select("doc_id", "sz", (F.col("p0") + 1).alias("pos"), "term")
    # SYMMETRIC prefixes on both sides — measured and kept (r14): the
    # asymmetric PPJoin indexing prefix (smaller side explodes only
    # |x| − ⌈2θ/(1+θ)|x|⌉ + 1 = ⌊|x|/3⌋+1 tokens at θ=½) was implemented,
    # proven exact, oracle-green, and REVERTED on an interleaved
    # B/A/B/A measurement at sf100-mut: r14-asym 465.2 / 469.1 s vs the
    # r13 symmetric form's 273.2 s in between (rows identical). The
    # −32.7% one-sided exploded rows (13.41M → 9.02M at sf10-mut) is
    # real, but filtering ONE side of a self-join makes the two join
    # inputs different subplans, so Spark can no longer reuse a single
    # shuffle of `pre` for both sides — the candidate exchange + sort
    # runs twice (13.4M + 9.0M rows) instead of once (13.4M, reused),
    # and at the decade rung that reuse loss costs far more than the row
    # saving. Final candidates were within 0.3% of symmetric anyway (the
    # shorter prefix also weakens the merge bound below). Keeping the
    # sides IDENTICAL is the §2.4 lever here: one exchange, reused.
    _nd = SETSIM_THETA_NUM + SETSIM_THETA_DEN
    a, b = pre.alias("a"), pre.alias("b")
    # PPJoin prefix-MERGE bound (r14, VERDICT r13 item 1 — tightens the
    # r13 first-match positional filter using EVERY shared prefix token,
    # still from the same grouped exchange): both docs' lists follow the
    # ONE canonical (df, hash) total order, so the c shared prefix tokens
    # t1 < … < tc have simultaneously-increasing positions on both sides,
    # and max(pa)/max(pb) both refer to tc. Any token shared between x
    # and y (anywhere) that is ordered before tc sits at positions < pc ≤
    # prefixlen(x) and < qc ≤ prefixlen(y), i.e. it IS one of t1…t(c−1) —
    # so exactly c matches exist among tokens ≤ tc, and at most
    # min(|x| − pc, |y| − qc) more can follow. Hence
    #     overlap(x,y) ≤ c + min(|x| − pc, |y| − qc)
    # while J ≥ θ = n/d requires overlap ≥ α = ⌈n(|x|+|y|)/(n+d)⌉.
    # With c = 1 this is exactly the r13 bound; since positions strictly
    # increase (pc ≥ p1 + c − 1 on both sides), the merge bound is NEVER
    # looser and is strictly tighter whenever unmatched tokens interleave
    # the shared prefix — the "partial merge over the prefix" the PPJoin+
    # suffix filter approximates, here exact and costing one count per
    # grouped pair (same exchange: two ints become three). No true pair
    # prunes: the bound ≥ the true overlap ≥ α.
    cand = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (  # length filter: θ|x| ≤ |y| (else J < θ regardless)
                SETSIM_THETA_DEN * F.least(F.col("a.sz"), F.col("b.sz"))
                >= SETSIM_THETA_NUM * F.greatest(F.col("a.sz"), F.col("b.sz"))
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .agg(
            F.count(F.lit(1)).alias("npfx"),
            F.max(F.col("a.pos")).alias("pa"),
            F.max(F.col("b.pos")).alias("pb"),
        )
        .filter(
            F.expr(
                "npfx + least(sza - pa, szb - pb) >= "
                f"({SETSIM_THETA_NUM} * (sza + szb) + {_nd - 1}) div {_nd}"
            )
        )
        .select("doc_a", "doc_b")
    )
    def _verify_of(c: DataFrame) -> DataFrame:
        return (
            c.join(
                tok.select(
                    F.col("doc_id").alias("doc_a"), F.col("tk").alias("tka")
                ),
                "doc_a",
            )
            .join(
                tok.select(
                    F.col("doc_id").alias("doc_b"), F.col("tk").alias("tkb")
                ),
                "doc_b",
            )
            .select(
                "doc_a",
                "doc_b",
                F.size(F.array_intersect("tka", "tkb")).alias("inter"),
                (F.size("tka") + F.size("tkb")).alias("sum_sz"),
            )
            .select(
                "doc_a",
                "doc_b",
                F.col("inter").cast("bigint").alias("n_common"),
                (F.col("sum_sz") - F.col("inter"))
                .cast("bigint")
                .alias("n_union"),
            )
            .filter(
                SETSIM_THETA_DEN * F.col("n_common")
                >= SETSIM_THETA_NUM * F.col("n_union")
            )
            .withColumn(
                "jac_ppm",
                F.expr("(1000000 * n_common) div n_union").cast("bigint"),
            )
        )

    if prep_passes == 1:
        return _verify_of(cand)
    # Verify-phase arm of the same governor (r12, measured need): the
    # candidates are LINEAR on this corpus (152.4M at sf100-mut = 10× the
    # sf10-mut 15.25M, max prefix bucket 6 — probed), but each candidate
    # row co-ships BOTH shingle arrays (~900 B) through two join sorts:
    # ~65 GB of sort/shuffle for 152M candidates of which only ~2.6M
    # survive θ — the measured stage-58 ENOSPC after prep slicing alone.
    # Slice the verify by pair hash: survivors per slice are tiny
    # (pinned doc-pair-scale by _phase_barrier, dead verify shuffles
    # released), peak scratch ~verify/K. Exact: slices partition pairs.
    from pyspark import StorageLevel

    cand = cand.persist(StorageLevel.DISK_ONLY)
    cand.count()
    result = sliced_exchange(
        cand,
        ["doc_a", "doc_b"],
        prep_passes,
        _verify_of,
        label="setsim verify slice",
    )
    # every verify slice is eagerly pinned by now — both cached inputs
    # are dead. tok was the leak (ADVICE r12): it outlived the query on
    # the executors' disks for the rest of the session.
    cand.unpersist(blocking=False)
    tok.unpersist(blocking=False)
    return result


CONTAIN_NUM, CONTAIN_DEN = 4, 5  # containment threshold t = 4/5


@query(
    "q_containment_dedup",
    oracle=f"""
    {_SQL_PAIR_CTES}
    SELECT p.doc_a, p.doc_b,
           CAST(p.n_common AS BIGINT) AS n_common,
           CAST(least(sa.n_shingles, sb.n_shingles) AS BIGINT) AS n_smaller,
           CAST((1000000 * p.n_common)
                // least(sa.n_shingles, sb.n_shingles) AS BIGINT)
             AS containment_ppm
    FROM pair_inter p
    JOIN sizes sa ON p.doc_a = sa.doc_id
    JOIN sizes sb ON p.doc_b = sb.doc_id
    WHERE {CONTAIN_DEN} * p.n_common
          >= {CONTAIN_NUM} * least(sa.n_shingles, sb.n_shingles)
    """,
)
def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-dup join: pairs where |A∩B| ≥ t·min(|A|,|B|)
    (t={CONTAIN_NUM}/{CONTAIN_DEN}, 3-gram shingle sets) — the
    sub-document decision Jaccard misses: a short doc pasted inside a long
    one has high containment but low Jaccard (the union is dominated by the
    long doc), so corpus curation runs BOTH this and q_setsim_join_prefix.

    Candidates by the asymmetric prefix scheme: the PREFIX side keeps each
    doc's |x| − ⌈t|x|⌉ + 1 rarest shingles, the build side explodes ALL
    shingles, and a pair qualifies when the (sz, doc_id)-smaller doc's
    prefix hits the other doc's full set — ONE direction per pair (r14;
    the containment decision is against min(|x|,|y|), so the smaller doc
    is always the deciding one — the reverse direction the code ran
    through r13 only added never-true candidates plus a dedup exchange).
    Completeness: containment ≥ t of x
    needs |x∩y| ≥ ⌈t|x|⌉; missing x's whole prefix caps it at ⌈t|x|⌉ − 1.
    No size-ratio filter exists for containment (a tiny doc can live inside
    a huge one) — that asymmetry is the point, which makes the PPJoin
    positional prune (r13, tightened to the prefix-MERGE bound in r14 —
    VERDICT r13 item 1) the one prune available: both sides carry each
    token's position in the canonical rarest-first order, and a pair
    drops per direction when its c shared tokens' last positions give
    c + min(|x|−pc, |y|−qc) < ⌈t·min(|x|,|y|)⌉ — exact, proven at the
    candidate join. Exact verify on candidates only; floor-ppm output,
    integer-exact.

    As in q_setsim_join_prefix (r12), shingles are hashed to xxhash64
    longs at tokenize time, so the build-side full-shingle explode — the
    big exchange here, every shingle of every doc — and the verify joins
    all ship 8 B longs, never n-gram text. Collision exposure
    (ADVICE r12, corpus-level bound): per doc P ≈ |x|²/2⁶⁴ ≈ 1e-15, and
    the corpus-level driver-mismatch probability is Σ|x||y|/2⁶⁴ over
    candidate pairs (~1e-7 at sf100-mut) — still negligible; the DuckDB
    oracle keeps true strings."""
    docs = t(spark, sf_dir, "documents")
    tok = (
        spread(docs)
        .select(
            "doc_id",
            F.transform(
                shingles(normalized_text()), lambda s: F.xxhash64(s)
            ).alias("tk"),
        )
        .filter(F.size("tk") > 0)
    )
    terms = tok.select("doc_id", F.explode("tk").alias("term"))
    dfreq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # FULL canonical (rarest-first) token array per doc — the prefix is
    # its head slice, and the build side now explodes it WITH positions
    # so the positional filter (r13) has py; doc-scale pin + release of
    # the token-prep exchanges (see setsim)
    ordered_full = _phase_barrier(
        terms.join(dfreq, "term")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("df"), F.col("term")))
            ).alias("stk")
        )
        .select(
            "doc_id", F.expr("transform(stk, x -> x.term)").alias("otk")
        )
    )
    prefix = ordered_full.select(
        "doc_id",
        F.size("otk").alias("sz"),
        F.posexplode(
            F.expr(
                "slice(otk, 1, size(otk) - "
                f"ceil({CONTAIN_NUM} * size(otk) / {CONTAIN_DEN}) + 1)"
            )
        ).alias("p0", "term"),
    ).select("doc_id", "sz", (F.col("p0") + 1).alias("pos"), "term")
    full = ordered_full.select(
        "doc_id",
        F.size("otk").alias("sz"),
        F.posexplode("otk").alias("p0", "term"),
    ).select("doc_id", "sz", (F.col("p0") + 1).alias("pos"), "term")
    a, b = prefix.alias("a"), full.alias("b")
    # PPJoin prefix-MERGE bound, containment form (r14, VERDICT r13
    # item 1; the proof mirrors setsim's inline note): both sides follow
    # the one canonical (df, hash) order, so the c tokens shared between
    # x's prefix and y's full set have simultaneously-increasing
    # positions and max(pa)/max(pb) both refer to the LAST one, tc. Any
    # token shared between x and y ordered before tc sits at a position
    # < pc ≤ prefixlen(x) in x — inside x's prefix — and (trivially) in
    # y's full set, so it is one of t1…t(c−1): exactly c matches exist
    # among tokens ≤ tc, and at most min(|x| − pc, |y| − qc) can follow:
    #     |x∩y| ≤ c + min(|x| − px, |y| − py)
    # which must reach α = ⌈t·min(|x|,|y|)⌉. With c = 1 this is the r13
    # first-match bound; it is never looser and strictly tighter when
    # unmatched tokens interleave (VERDICT r13: the r13 bound pruned only
    # 29% here — the merge bound is the exact next lever).
    #
    # SINGLE DIRECTION (r14): the containment decision is against
    # min(|x|,|y|), i.e. the SMALLER doc is always the deciding one, and
    # the prefix lemma needs exactly that doc's prefix to hit the other
    # doc's full set (overlap ≥ α = ⌈t|x|⌉ forces the first shared token
    # into x's |x|−α+1 head; it sits in y trivially). So the direction
    # whose prefix side is the (sz, doc_id)-smaller doc generates AND
    # keeps every true pair (its bound ≥ its true overlap ≥ α) — the
    # reverse direction the code ran through r13 only ever ADDED
    # never-true candidates and a dedup pass. Dropping it halves the
    # candidate-slot fan-out through the equi-join and the grouped
    # exchange, and removes the `.distinct()` Exchange outright
    # (one row per pair by the total order — guide §2.4). No length
    # filter exists for containment (a tiny doc inside a huge one is the
    # whole point); position is the only prune available, which is why
    # the build side explodes ALL tokens.
    cand = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (  # prefix side = the (sz, doc_id)-smaller (deciding) doc;
                # equal sizes tie-break by id (either doc is "the min" —
                # the lemma holds for the lower-id one), so the strict
                # total order gives each pair exactly ONE orientation
                (F.col("a.sz") < F.col("b.sz"))
                | (
                    (F.col("a.sz") == F.col("b.sz"))
                    & (F.col("a.doc_id") < F.col("b.doc_id"))
                )
            ),
        )
        .groupBy(
            F.col("a.doc_id").alias("ida"),
            F.col("b.doc_id").alias("idb"),
            F.col("a.sz").alias("sza"),
            F.col("b.sz").alias("szb"),
        )
        .agg(
            F.count(F.lit(1)).alias("npfx"),
            F.max(F.col("a.pos")).alias("pa"),
            F.max(F.col("b.pos")).alias("pb"),
        )
        .filter(
            F.expr(
                "npfx + least(sza - pa, szb - pb) >= "
                f"({CONTAIN_NUM} * least(sza, szb) + {CONTAIN_DEN - 1}) "
                f"div {CONTAIN_DEN}"
            )
        )
        # one row per pair by the strict total order — no distinct needed
        # (the r13 form's dedup Exchange is gone from the plan)
        .select(
            F.least(F.col("ida"), F.col("idb")).alias("doc_a"),
            F.greatest(F.col("ida"), F.col("idb")).alias("doc_b"),
        )
    )
    return (
        cand.join(
            tok.select(F.col("doc_id").alias("doc_a"), F.col("tk").alias("tka")),
            "doc_a",
        )
        .join(
            tok.select(F.col("doc_id").alias("doc_b"), F.col("tk").alias("tkb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("tka", "tkb"))
            .cast("bigint")
            .alias("n_common"),
            F.least(F.size("tka"), F.size("tkb"))
            .cast("bigint")
            .alias("n_smaller"),
        )
        .filter(
            CONTAIN_DEN * F.col("n_common") >= CONTAIN_NUM * F.col("n_smaller")
        )
        .withColumn(
            "containment_ppm",
            F.expr("(1000000 * n_common) div n_smaller").cast("bigint"),
        )
    )


LEV_MAX = 4  # fuzzy-name match threshold (edit distance)


@query(
    "q_fuzzy_join_levenshtein",
    oracle=f"""
    WITH names AS (
      SELECT p_name, split_part(p_name, ' ', 2) AS noun,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1, 2
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS INT) AS dist,
           a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
    FROM names a JOIN names b
      ON a.noun = b.noun AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX}
    """,
)
def q_fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy entity-resolution join: near-identical part names by edit
    distance ≤ {LEV_MAX}, BLOCKED on the head noun (the 'small ring' /
    'red ring' family) — the classic record-linkage shape: a cheap exact
    blocking key bounds the candidate set, the expensive string metric
    runs only within blocks.

    Scale shape: collapse to the DISTINCT-name vocabulary first (with
    per-name row counts carried along) — the quadratic metric runs on
    vocabulary², never rows²; the block equi-join keeps it at
    Σ(block size)². levenshtein() is a built-in JVM expression in Spark
    and a native function in DuckDB — identical classic edit-distance
    semantics, integer-exact. The a < b guard emits each pair once."""
    names = (
        t(spark, sf_dir, "part")
        .groupBy(
            "p_name", F.expr("split_part(p_name, ' ', 2)").alias("noun")
        )
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )
    a = names.select(
        F.col("p_name").alias("name_a"),
        F.col("noun"),
        F.col("n_parts").alias("n_parts_a"),
    )
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("noun").alias("noun_b"),
        F.col("n_parts").alias("n_parts_b"),
    )
    return (
        a.join(
            b,
            (F.col("noun") == F.col("noun_b"))
            & (F.col("name_a") < F.col("name_b")),
        )
        .withColumn(
            "dist", F.levenshtein(F.col("name_a"), F.col("name_b")).cast("int")
        )
        .filter(F.col("dist") <= LEV_MAX)
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
    )


CHUNK_DUP_MIN_DOCS = 2  # a chunk is boilerplate when ≥2 distinct docs carry it


@query(
    "q_dedup_chunks",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS tk FROM documents
    ), chunks AS (
      SELECT doc_id,
             md5(array_to_string(tk[(i * 20 + 1):((i + 1) * 20)], ' '))
               AS chunk_hash
      FROM toks,
           unnest(range(0, CAST(ceil(len(tk) / 20.0) AS BIGINT))) AS u(i)
    )
    SELECT chunk_hash,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occurrences,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM chunks
    GROUP BY 1
    HAVING count(DISTINCT doc_id) >= {CHUNK_DUP_MIN_DOCS}
    """,
)
def q_dedup_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-document exact dedup: chunk every document into the training
    pipeline's context windows (q_chunk_documents' 20-token slices) and
    report chunks shared by ≥{CHUNK_DUP_MIN_DOCS} distinct documents —
    the boilerplate detector (headers, disclaimers, templated spans) that
    whole-document dedup (q_dedup_exact) cannot see and set-similarity
    (q_containment_dedup) only sees when the overlap dominates a
    document. The production remediation drops or down-weights the
    flagged chunks, not the documents.

    Scale shape: chunking is a pure projection (no shuffle); the ONE
    chunk-keyed exchange carries (16-byte md5, doc_id) — never
    chunk text (the q_dedup_exact discipline); both the distinct-doc
    count and the min-doc witness ride the same hash agg, map-side
    combined. Output is bounded by the duplicated-chunk vocabulary."""
    from finegourmet_spark.operators.textops import CHUNK_TOKENS

    assert CHUNK_TOKENS == 20  # oracle literal above; keep in lockstep
    d = t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_chunks = F.ceil(F.size(toks) / F.lit(float(CHUNK_TOKENS))).cast("bigint")
    chunks = d.select(
        "doc_id",
        toks.alias("tk"),
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("i"),
    ).select(
        "doc_id",
        F.md5(
            F.array_join(
                F.slice(F.col("tk"), F.col("i") * CHUNK_TOKENS + 1, CHUNK_TOKENS),
                " ",
            )
        ).alias("chunk_hash"),
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("doc_id").alias("first_doc"),
        )
        .filter(F.col("n_docs") >= CHUNK_DUP_MIN_DOCS)
    )


_GOLDEN_PRELUDE = f"""fnames AS (
  SELECT p_name, split_part(p_name, ' ', 2) AS noun,
         min(p_partkey) AS name_id,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM part GROUP BY 1, 2
), pairs AS (
  SELECT a.name_id AS da, b.name_id AS db
  FROM fnames a JOIN fnames b
    ON a.noun = b.noun AND a.p_name < b.p_name
  WHERE levenshtein(a.p_name, b.p_name) <= {LEV_MAX}
)"""

_GOLDEN_CC = unrolled_min_label_sql(
    _GOLDEN_PRELUDE, "SELECT name_id AS node FROM fnames", "name_id"
)


@query(
    "q_golden_record",
    oracle=f"""
    WITH stats AS (
      SELECT p_name, min(p_partkey) AS name_id,
             CAST(count(*) AS BIGINT) AS n_parts
      FROM part GROUP BY 1
    ), ranked AS (
      SELECT cc.cluster_id, s.p_name, s.n_parts,
             row_number() OVER (PARTITION BY cc.cluster_id
                                ORDER BY s.n_parts DESC, s.p_name) AS rk
      FROM ({_GOLDEN_CC}) cc JOIN stats s USING (name_id)
    )
    SELECT CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) AS BIGINT) AS n_aliases,
           CAST(SUM(n_parts) AS BIGINT) AS n_parts_total,
           min(CASE WHEN rk = 1 THEN p_name END) AS canonical_name
    FROM ranked GROUP BY 1
    """,
)
def q_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GOLDEN-RECORD survivorship — the master-data-management verb that
    finishes entity resolution: fuzzy-match clusters
    (q_fuzzy_join_levenshtein's blocked edit-distance pairs, made
    transitive by the shared ``min_label_components`` machinery) collapse
    to one canonical record each, survivor chosen by an explicit rule
    (most part rows, ties -> lexicographically first; never an arbitrary
    dropDuplicates — the reference-bug class this repo exists to fix,
    etl/transform.py:296).

    Names are mapped to node ids (min p_partkey per name) before the CC
    only because the oracle reports each cluster by its minimum
    p_partkey; the CC itself labels string ids just as well. Scale
    shape: the pair gate runs on the name VOCABULARY (the fuzzy-join
    discipline), CC rounds are vocabulary-scale joins, and the
    survivorship window runs per cluster.
    Oracle: the same unrolled min-label rounds as q_dedup_clusters over
    the name-id graph, wrapped with the survivorship window."""
    names = (
        t(spark, sf_dir, "part")
        .groupBy("p_name", F.expr("split_part(p_name, ' ', 2)").alias("noun"))
        .agg(
            F.min("p_partkey").alias("name_id"),
            F.count(F.lit(1)).alias("n_parts"),
        )
        .localCheckpoint()  # pair gate + node list + stats: three consumers
    )
    a = names.select(F.col("p_name").alias("name_a"), "noun", F.col("name_id").alias("ida"))
    b = names.select(
        F.col("p_name").alias("name_b"),
        F.col("noun").alias("noun_b"),
        F.col("name_id").alias("idb"),
    )
    pairs = a.join(
        b,
        (F.col("noun") == F.col("noun_b")) & (F.col("name_a") < F.col("name_b")),
    ).filter(F.levenshtein(F.col("name_a"), F.col("name_b")) <= LEV_MAX)
    labels = min_label_components(
        pairs.select("ida", "idb"),
        names.select("name_id"),
        "name_id",
        pair_cols=("ida", "idb"),
    )
    from pyspark.sql.window import Window

    j = labels.join(names.select("name_id", "p_name", "n_parts"), "name_id")
    rk = Window.partitionBy("cluster_id").orderBy(
        F.col("n_parts").desc(), "p_name"
    )
    return (
        j.withColumn("rk", F.row_number().over(rk))
        .groupBy(F.col("cluster_id").cast("bigint").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_aliases"),
            F.sum("n_parts").cast("bigint").alias("n_parts_total"),
            F.min(F.when(F.col("rk") == 1, F.col("p_name"))).alias(
                "canonical_name"
            ),
        )
    )


SNM_WINDOW = 3  # sorted-neighborhood candidate window (pairs per doc ≤ W)
SNM_KEY_CHARS = 16  # leading characters used as the semantic sort key


@query(
    "q_dedup_sorted_neighborhood",
    oracle=f"""
    WITH ordered AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY substring(lower(trim(text)), 1,
                                                   {SNM_KEY_CHARS}), doc_id)
               AS sid
      FROM documents
    ), cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM ordered a JOIN ordered b ON b.sid - a.sid BETWEEN 1 AND {SNM_WINDOW}
    ), sh AS (
      SELECT doc_id, unnest({_SQL_SHINGLES}) AS shingle FROM documents
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_shingles FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b,
           CAST(i.n_common AS DOUBLE)
             / (sa.n_shingles + sb.n_shingles - i.n_common) AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.doc_a
    JOIN sizes sb ON sb.doc_id = i.doc_b
    WHERE CAST(i.n_common AS DOUBLE)
          / (sa.n_shingles + sb.n_shingles - i.n_common) >= {NEAR_DUP_THETA}
    """,
)
def q_dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dup detection (Hernández–Stolfo SNM): sort
    the corpus by a SEMANTIC key (the first {SNM_KEY_CHARS} chars of the
    normalized text — near-duplicates share prefixes, so they land
    adjacent), then only pairs within {SNM_WINDOW} positions of each other
    are candidates — O(N·W) candidates total, the third blocking scheme in
    the dedup family (LSH banding = q_dedup_minhash, prefix filtering =
    q_setsim_join_prefix; SNM wins when near-dups cluster under a cheap
    sort key and loses when edits hit the key prefix — each gate's
    capture bias is documented where it's defined).

    The global sort position comes from the hierarchical dense_ids
    assigner (range partition → offsets — NO SinglePartition window), and
    the W neighbor joins are co-keyed equi-joins on the position id.
    Candidates then verify with the module's exact 3-gram Jaccard
    (shared shingle definition, so the near-dup decision cannot drift
    from the other gates'). Output mirrors q_dedup_ngram_jaccard:
    (doc_a, doc_b, jaccard) at θ ≥ {NEAR_DUP_THETA}."""
    from finegourmet_spark.functions.ids import dense_ids

    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.lower(F.trim(F.col("text"))), 1, SNM_KEY_CHARS).alias(
            "sk"
        ),
    )
    ordered = dense_ids(d, ["sk", "doc_id"], "sid").select("doc_id", "sid")
    # W co-keyed equi-joins on the position id (an inequality band join
    # here would plan as a nested loop)
    cands = None
    for dlt in range(1, SNM_WINDOW + 1):
        bd = ordered.select(
            F.col("doc_id").alias("doc_b"), (F.col("sid") - dlt).alias("sa")
        )
        part = (
            ordered.select(F.col("doc_id").alias("doc_a"), F.col("sid").alias("sa"))
            .join(bd, "sa")
            .select("doc_a", "doc_b")
        )
        cands = part if cands is None else cands.unionByName(part)
    sh = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.explode(shingles(F.col("text"))).alias("shingle"))
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    sa_ = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    sb_ = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    inter = (
        cands.join(sa_, "doc_a")
        .join(sb_, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    za = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("na"))
    zb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("nb"))
    jac = F.col("n_common") / (F.col("na") + F.col("nb") - F.col("n_common"))
    return (
        inter.join(za, "doc_a")
        .join(zb, "doc_b")
        .filter(jac >= NEAR_DUP_THETA)
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
