"""Deduplication operators: exact, n-gram Jaccard, MinHash/LSH, SimHash.

Scale design:
- exact: hash-groupBy on a digest of the normalized text — one shuffle keyed
  by digest; no full-text comparisons.
- n-gram Jaccard: shingle → explode → self-join on shingle → count. The
  shingle join is the classic candidate-generation pattern; output is bounded
  by pairs sharing at least one shingle. At 100 TB use minhash_lsh first to
  cut the candidate space, then verify candidates with exact Jaccard.
- MinHash+LSH: k independent hash functions derived from md5 (deterministic,
  engine-portable), banded into b bands of r rows; pairs sharing a band
  bucket are candidates. All pure DataFrame ops — explode/groupBy/join.
- SimHash: 64-bit fingerprint from md5 bits of tokens; near-dup = small
  Hamming distance.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def normalize_text(c: Column | str) -> Column:
    """Canonical text form for dedup: lowercase, collapse whitespace, trim."""
    t = F.col(c) if isinstance(c, str) else c
    return F.trim(F.regexp_replace(F.lower(t), r"\s+", " "))


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate groups → (text_key, keep_id, dup_count).

    keep_id = min id per group (deterministic survivor). One hash-partition
    shuffle on the md5 digest; the digest (not the document body) is the
    shuffle key, so map output stays small at scale.
    """
    key = F.md5(normalize_text(text_col)).alias("text_key")
    return (
        df.select(key, F.col(id_col).alias("id"))
        .groupBy("text_key")
        .agg(F.min("id").alias("keep_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def drop_exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep only each group's survivor row (min id per normalized text)."""
    w = Window.partitionBy(F.md5(normalize_text(text_col))).orderBy(F.col(id_col))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def tokens(c: Column | str) -> Column:
    """Whitespace tokens of normalized text (non-empty)."""
    return F.filter(F.split(normalize_text(c), " "), lambda t: t != "")


def positional_ngrams(c: Column | str, n: int = 3) -> Column:
    """ALL word n-grams in document order (duplicates kept) as an
    array<string>; empty array for documents shorter than n tokens.

    Built with n-1 zip_with passes over shifted views of the token array —
    O(n·len) total work — instead of one slice+array_join per position
    (O(n·len) allocations through interpreted HOF lambdas; measured 5x
    slower at sf0.1). zip_with pads the shorter side with null and
    concat_ws skips nulls, so trailing partial grams exist only past index
    k and the final slice drops them; output order and values are
    byte-identical to the positional construction.
    """
    toks = tokens(c)
    k = F.size(toks) - (n - 1)
    acc = toks
    for i in range(1, n):
        shifted = F.slice(toks, i + 1, F.greatest(F.size(toks) - i, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    return F.when(k >= 1, F.slice(acc, 1, k)).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(c: Column | str, n: int = 3) -> Column:
    """Distinct word n-gram shingles (set semantics — the dedup/minhash
    input); see ``positional_ngrams`` for the counted variant."""
    return F.array_distinct(positional_ngrams(c, n))


def shingle_table(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    max_df_fraction: float | None = None,
) -> DataFrame:
    """(id, shingle) exploded table — candidate-generation input.

    ``max_df_fraction`` drops stop-shingles appearing in more than that
    fraction of documents (boilerplate headers/footers) — the standard guard
    against hot-bucket blowup in the downstream self-joins at scale. Off by
    default so exact-Jaccard semantics (and the DuckDB oracles) hold.
    """
    sh = df.select(
        F.col(id_col).alias("id"), F.explode(word_shingles(text_col, n)).alias("shingle")
    )
    if max_df_fraction is not None:
        n_docs = df.count()
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > n_docs * max_df_fraction)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    return sh


def ngram_jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.6
) -> DataFrame:
    """All pairs (a < b) with word-n-gram Jaccard similarity >= threshold.

    |A∩B| from the shingle self-join, |A∪B| = |A|+|B|-|A∩B|. Pairs sharing
    zero shingles never materialize. Returns (id_a, id_b, jaccard).
    """
    sh = shingle_table(df, id_col, text_col, n).cache()
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    # sizes has one row per document — unbounded at corpus scale, so no
    # broadcast hint: let AQE pick broadcast when the corpus is small enough.
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )


def _md5_hash32(c: Column, salt: int | str) -> Column:
    """Deterministic 32-bit hash from md5 — portable across engines (the same
    value is computable in any SQL dialect with md5 + hex parsing), unlike
    Spark's murmur3 ``hash()``.  ``salt`` becomes the literal '<salt>:'
    domain-separation prefix (ints for the minhash families, short strings
    for named domains like classify's 'w')."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(f"{salt}:"), c)), 1, 8), 16, 10).cast("long")


def minhash_hash_exprs(c: Column, num_hashes: int) -> list[Column]:
    """k independent 32-bit hash expressions for a string column, md5-derived
    and engine-portable: each md5 digest yields FOUR 8-hex-char hashes
    (hash i = slice i%4 of md5('{i//4}:' || s)), so k hashes cost ceil(k/4)
    md5 evaluations instead of k."""
    out = []
    for i in range(num_hashes):
        digest = F.md5(F.concat(F.lit(f"{i // 4}:"), c))
        out.append(
            F.conv(F.substring(digest, 1 + 8 * (i % 4), 8), 16, 10).cast("long")
        )
    return out


def _signatures_from_shingles(sh: DataFrame, num_hashes: int) -> DataFrame:
    """(id, sig) minhash signatures from a prebuilt (id, shingle) table.

    min() over exact md5-derived longs is order-insensitive, so the result
    is identical whether the shingle table is computed fresh, cached, or
    shared with another consumer (unlike order-sensitive fits, sharing
    cannot move any value)."""
    hashes = minhash_hash_exprs(F.col("shingle"), num_hashes)
    mins = [F.min(h).alias(f"h{i}") for i, h in enumerate(hashes)]
    agg = sh.groupBy("id").agg(*mins)
    return agg.select("id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, num_hashes: int = 16
) -> DataFrame:
    """(id, sig array<long>) — minhash over word n-gram shingles.

    One explode + one groupBy; the k hash functions are computed per shingle
    as literal expressions (no UDF). Deterministic across runs and engines.
    """
    return _signatures_from_shingles(
        shingle_table(df, id_col, text_col, n), num_hashes
    )


def _banded_buckets(sig_df: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) from a (id, sig) signature table — bucket ids
    derive from the signature alone, so a persisted index never needs the
    original text (or a re-shingling pass) to be queried.

    bands must divide num_hashes (a remainder would silently ignore the
    tail hash positions and quietly degrade recall), and every signature
    must actually be num_hashes long — a persisted index built with a
    different num_hashes would otherwise produce degenerate null buckets
    and miss even exact duplicates; the in-plan assert turns that silent
    recall loss into a runtime error.
    """
    if num_hashes % bands:
        raise ValueError(f"bands ({bands}) must divide num_hashes ({num_hashes})")
    ok = F.assert_true(
        F.size("sig") == num_hashes,
        F.concat(
            F.lit(f"signature length != num_hashes={num_hashes} (got "),
            F.size("sig").cast("string"),
            F.lit(") — index built with different parameters?"),
        ),
    )
    sig_df = sig_df.withColumn("sig", F.when(ok.isNull(), F.col("sig")))
    rows_per_band = num_hashes // bands
    return sig_df.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(bi).alias("band"),
                        F.concat_ws(
                            "_",
                            *[
                                F.col("sig")[bi * rows_per_band + r].cast("string")
                                for r in range(rows_per_band)
                            ],
                        ).alias("bucket"),
                    )
                    for bi in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "bb.band", "bb.bucket")


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    sig: DataFrame | None = None,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over minhash signatures.

    Pairs agreeing on all rows of at least one band land in the same bucket
    → groupBy(band, bucket) self-pairing. Returns distinct (id_a, id_b).
    At scale: the band-bucket shuffle replaces the all-pairs O(N²) — the
    standard minhash-LSH trade (tune bands/rows for the target Jaccard).

    ``sig`` (r12): a precomputed ``minhash_signatures``/``lsh_index`` table
    for the SAME (n, num_hashes) — callers that already hold the corpus
    index (the persisted-index flow) pass it to skip re-shingling and
    re-hashing the corpus for candidate generation.
    """
    if sig is None:
        sig = minhash_signatures(df, id_col, text_col, n, num_hashes)
    banded = _banded_buckets(sig, num_hashes, bands)
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, simhash long) — 64-bit SimHash over whitespace tokens.

    Each token contributes ±1 per bit position, signs taken from md5 bits of
    the token (engine-portable); fingerprint bit b = 1 iff the sum is > 0.
    Pure explode + groupBy + bit arithmetic — no UDF.
    """
    tok = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("token")
    )
    # 64 bits from the md5 hex: bit b = bit (b % 32) of word (b // 32)
    h_lo = _md5_hash32(F.col("token"), 0)
    h_hi = _md5_hash32(F.col("token"), 1)
    contribs = [
        F.sum(
            F.when(((h_lo if b < 32 else h_hi).bitwiseAND(F.lit(1 << (b % 32)))) != 0, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(64)
    ]
    per_doc = tok.groupBy("id").agg(*contribs)
    fp = None
    for b in range(64):
        bit = F.when(F.col(f"b{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseOR(term)
    return per_doc.select("id", fp.alias("simhash"))


def minhash_ml_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hash_tables: int = 8,
    jaccard_distance_threshold: float = 0.7,
) -> DataFrame:
    """Candidate near-dup pairs via the built-in ml.feature.MinHashLSH.

    The MLlib alternative to ``minhash_lsh_candidates``: shingles →
    CountVectorizer(binary) sparse sets → MinHashLSH approxSimilarityJoin.
    Faster to stand up, but hash functions are JVM-internal (not
    engine-portable), so it is verified by overlap with the md5-portable
    implementation rather than a SQL oracle.
    """
    from pyspark.ml.feature import CountVectorizer, MinHashLSH

    sh = df.select(
        F.col(id_col).alias("id"), word_shingles(text_col, n).alias("shingles")
    ).filter(F.size("shingles") > 0)
    cv = CountVectorizer(inputCol="shingles", outputCol="features", binary=True)
    cvm = cv.fit(sh)
    feats = cvm.transform(sh).select("id", "features")

    mh = MinHashLSH(inputCol="features", outputCol="hashes",
                    numHashTables=num_hash_tables, seed=7)
    model = mh.fit(feats)
    joined = model.approxSimilarityJoin(
        feats, feats, jaccard_distance_threshold, distCol="jaccard_dist"
    )
    return (
        joined.filter(F.col("datasetA.id") < F.col("datasetB.id"))
        .select(
            F.col("datasetA.id").alias("id_a"),
            F.col("datasetB.id").alias("id_b"),
            F.round(1 - F.col("jaccard_dist"), 6).alias("jaccard"),
        )
    )


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.6,
    max_df_fraction: float | None = None,
    sig: DataFrame | None = None,
) -> DataFrame:
    """The production near-dup flow: LSH candidate generation → exact
    Jaccard verification of candidates only. ``sig`` — see
    ``minhash_lsh_candidates``.

    This is the composition SCALE.md prescribes for 100 TB: the banded-LSH
    bucket join bounds the candidate set, then the exact intersection count
    runs only over candidate pairs (broadcast-joined against the shingle
    table), never all pairs. Returns (id_a, id_b, jaccard >= threshold).
    """
    return _near_dup_pairs(
        df, id_col, text_col, n, num_hashes, bands, threshold, max_df_fraction, sig
    )[0]


def _near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    num_hashes: int,
    bands: int,
    threshold: float,
    max_df_fraction: float | None = None,
    sig: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """``near_dup_pairs`` plus the cached shingle table it reads, for a
    caller that consumes the pairs eagerly and can then unpersist it."""
    # ONE shingle pass (r12, guide §1.2): the signature side and the
    # verification side previously each ran the tokenize → n-gram →
    # explode chain over the corpus. Build the unfiltered shingle table
    # once, cache it, and derive BOTH the minhash signatures (when the
    # caller didn't hand one in) and the verify-side table from it.
    # Signatures are exact mins over md5 longs, so sharing cannot move
    # any value; the max_df_fraction stop-shingle filter applies (as
    # before) only to the verification side.
    cached = sh = shingle_table(df, id_col, text_col, n).cache()
    if sig is None:
        sig = _signatures_from_shingles(sh, num_hashes)
    cand = minhash_lsh_candidates(df, id_col, text_col, n, num_hashes, bands, sig=sig)
    if max_df_fraction is not None:
        n_docs = df.count()
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") > n_docs * max_df_fraction)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col("id").alias("id_a"), F.col("shingle"))
    b = sh.select(F.col("id").alias("id_b"), F.col("shingle"))
    inter = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"))
    pairs = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return pairs, cached


def connected_components(
    edges: DataFrame, nodes: DataFrame | None = None
) -> DataFrame:
    """(id, cluster) — undirected connected components; cluster = the
    smallest node id in the component, in Spark's ordering of the id type
    (numeric for numbers, UTF-8 byte order for strings).

    ``edges`` is DataFrame[id_a, id_b]; ``nodes`` optionally supplies the
    vertex set (DataFrame[id], one row per vertex, every edge endpoint
    among them) so isolated vertices come back as singleton clusters.
    Without it the result covers the edge endpoints only.

    The edge set is collected to the driver in one ``toArrow()`` job and
    labelled there: the ids are dictionary-encoded in sorted order, then
    min-label hooking (``np.minimum.at``) alternates with pointer jumping
    until every edge has both ends under one root. Each round strictly
    reduces the number of roots, so the loop always converges, whatever
    the graph's diameter. The labels return as a small Arrow-built frame,
    broadcast-joined onto ``nodes``.

    Near-dup graphs are small: one edge per verified pair (37 pairs for
    400 documents on the curation benchmark). The collect holds ~16 bytes
    per pair for long ids, and labelling a few int64 arrays of the same
    length; ``spark.driver.maxResultSize`` (1 GiB default) is the limit,
    and a larger edge set fails the job with an error that names that
    setting rather than exhausting the driver.
    """
    import numpy as np
    import pyarrow as pa

    pairs = edges.select("id_a", "id_b").toArrow()
    id_type = pairs.schema.field("id_a").type
    ends = np.concatenate([
        pairs.column("id_a").to_numpy(), pairs.column("id_b").to_numpy()
    ])
    # sorted dictionary: code order == id order, so the smallest code in a
    # component is its smallest id
    ids, codes = np.unique(ends, return_inverse=True)
    u, v = codes[: pairs.num_rows], codes[pairs.num_rows :]
    root = np.arange(len(ids))
    while True:
        # hook every root to the smallest root across its edges, then jump
        # pointers until each code points at a root (root[c] <= c always)
        ru, rv = root[u], root[v]
        low = np.minimum(ru, rv)
        np.minimum.at(root, ru, low)
        np.minimum.at(root, rv, low)
        while not np.array_equal(nxt := root[root], root):
            root = nxt
        if np.array_equal(root[u], root[v]):
            break
    labels = edges.sparkSession.createDataFrame(pa.table({
        "id": pa.array(ids, id_type), "cluster": pa.array(ids[root], id_type),
    }))
    if nodes is None:
        return labels
    return nodes.select("id").join(F.broadcast(labels), "id", "left").select(
        "id", F.coalesce("cluster", "id").alias("cluster")
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """(id, cluster, keep) — full near-duplicate grouping: banded-LSH
    candidates → exact-Jaccard verify (near_dup_pairs) → connected
    components → per-cluster survivor flag (keep = id == cluster, i.e. the
    smallest id in the component).

    The end-to-end curation flow: ``df.join(out.filter("keep"), id)``
    yields the deduplicated corpus; the cluster column preserves the
    duplicate-group lineage for audit. The verified pairs are collected
    here (see ``connected_components``), after which the shingle table
    they were computed from is released.
    """
    pairs, shingles = _near_dup_pairs(
        df, id_col, text_col, n, num_hashes, bands, threshold
    )
    try:
        comp = connected_components(
            pairs.select("id_a", "id_b"), nodes=df.select(F.col(id_col).alias("id"))
        )
    finally:
        shingles.unpersist()
    return comp.select(
        "id", "cluster", (F.col("id") == F.col("cluster")).alias("keep")
    )


def simhash_near_dups(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bands: int = 4,
    fp: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) — pairs whose 64-bit SimHash fingerprints
    differ in at most ``max_hamming`` bits, via pigeonhole band blocking.

    The 64 bits split into ``bands`` contiguous blocks; two fingerprints
    within ``max_hamming < bands`` Hamming distance MUST agree on at least
    one whole block (pigeonhole), so the (band, block-value) self-join has
    EXACT recall — unlike probabilistic LSH there is no missed-pair rate.
    Candidates then verify with one xor + bit_count. All native
    expressions; the join shuffles (band, 16-bit value) keys, never
    documents.

    ``fp`` (r12, guide §1.2): a precomputed ``simhash64`` table for the
    same corpus — the band self-join consumes the fingerprint subtree
    TWICE (stream + broadcast build sides), so without it the whole
    tokenize + 64-bitplane aggregation runs twice. Callers pass a pinned
    (id, simhash) copy (one narrow row per doc — bounded at any scale) to
    compute it once. Fingerprints are deterministic md5 arithmetic, so
    sharing cannot move any value.
    """
    if not 0 < bands <= 64 or 64 % bands:
        raise ValueError("bands must divide 64")
    if max_hamming >= bands:
        raise ValueError(
            "pigeonhole exactness needs max_hamming < bands "
            f"(got {max_hamming} >= {bands})"
        )
    width = 64 // bands
    mask = (1 << width) - 1
    if fp is None:
        fp = simhash64(df, id_col, text_col)
    banded = fp.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "simhash", "bb.band", "bb.val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("__sa"),
            F.col("b.simhash").alias("__sb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    sep: str = r"\n{2,}",
    joiner: str = "\n\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide unit-level (paragraph/line) exact dedup: split each
    document into units on ``sep``, keep only the globally FIRST occurrence
    of each distinct normalized unit (first = smallest (id, position)), and
    reassemble the surviving units in document order.

    The line/paragraph-dedup pass web-curation pipelines run before
    document-level near-dup (repeated boilerplate — headers, footers, nav
    text — repeats across documents while full documents rarely do).

    Returns (id, text, n_units, n_units_kept); documents whose every unit
    was dropped keep an empty string. Shuffle keys are md5 digests of
    units, never documents; reassembly is one groupBy(id) whose output is
    no larger than the input corpus.
    """
    paras = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(F.split(F.col(text_col), sep)).alias("pos", "para"),
        )
        .filter(F.length(F.trim(F.col("para"))) >= min_chars)
        .withColumn("pkey", F.md5(normalize_text("para")))
    )
    first = paras.groupBy("pkey").agg(
        F.min(F.struct("id", "pos")).alias("__first")
    )
    kept = (
        paras.join(first, "pkey")
        .filter(
            (F.col("id") == F.col("__first.id")) & (F.col("pos") == F.col("__first.pos"))
        )
        .select("id", "pos", "para")
    )
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            joiner,
        ).alias("text"),
        F.count(F.lit(1)).alias("n_units_kept"),
    )
    totals = paras.groupBy("id").agg(F.count(F.lit(1)).alias("n_units"))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(totals, "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_units", F.lit(0)).cast("long").alias("n_units"),
            F.coalesce("n_units_kept", F.lit(0)).cast("long").alias("n_units_kept"),
        )
    )


def _span_gram_table(df: DataFrame, id_col: str, text_col: str, span: int) -> DataFrame:
    """(id, pos, gkey) — every ``span``-token window keyed by its md5 digest.
    Shared by duplicate_span_metrics and remove_duplicate_spans so the
    window/digest rule cannot silently diverge between the diagnostic and
    the removal operator."""
    if span < 1:
        raise ValueError("span must be >= 1")
    return df.select(
        F.col(id_col).alias("id"),
        F.posexplode(positional_ngrams(text_col, span)).alias("pos", "gram"),
    ).select("id", "pos", F.md5("gram").alias("gkey"))


def duplicate_span_metrics(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = 10,
    min_count: int = 2,
    grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document duplicated-span coverage — the diagnostic side of
    exact-substring dedup (Lee et al., "Deduplicating Training Data Makes
    Language Models Better": repeated >=span-token passages are memorized
    disproportionately).

    A position is a duplicate-span start when its ``span``-token window
    occurs >= ``min_count`` times corpus-wide (counting every occurrence,
    within- and cross-document). covered_tokens is the EXACT size of the
    union of those [pos, pos+span) intervals, computed with one per-document
    lead() window over duplicate starts: sorted starts p_i contribute
    min(span, p_{i+1} - p_i), the last contributes span.

    Returns (id, n_tokens, dup_span_starts, covered_tokens,
    dup_token_fraction) for every document (zeros when clean). The
    corpus-wide count groups on md5 digests of spans, never span text.
    """
    base = df.select(
        F.col(id_col).alias("id"), F.size(tokens(text_col)).alias("n_tokens")
    )
    # ``grams`` (r12): callers composing several n-gram diagnostics over one
    # corpus can pass a shared (cached) ``_span_gram_table`` so the
    # tokenize → n-gram → md5 pass runs once, not once per operator
    if grams is None:
        grams = _span_gram_table(df, id_col, text_col, span)
    occ = grams.groupBy("gkey").agg(F.count(F.lit(1)).alias("occ"))
    dup = (
        grams.join(occ.filter(F.col("occ") >= min_count), "gkey")
        .select("id", "pos")
    )
    w = Window.partitionBy("id").orderBy("pos")
    cov = dup.withColumn("__nxt", F.lead("pos").over(w)).withColumn(
        "__c",
        F.when(F.col("__nxt").isNull(), F.lit(span)).otherwise(
            F.least(F.lit(span), F.col("__nxt") - F.col("pos"))
        ),
    )
    per_doc = cov.groupBy("id").agg(
        F.count(F.lit(1)).alias("dup_span_starts"),
        F.sum("__c").alias("covered_tokens"),
    )
    return (
        base.join(per_doc, "id", "left")
        .select(
            "id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("dup_span_starts", F.lit(0)).cast("long").alias("dup_span_starts"),
            F.coalesce("covered_tokens", F.lit(0)).cast("long").alias("covered_tokens"),
            F.round(
                F.coalesce("covered_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                6,
            ).alias("dup_token_fraction"),
        )
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    span: int = 10,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup at token granularity: rebuild each document
    with every token covered by a NON-FIRST occurrence of a corpus-
    duplicated ``span``-token window removed.

    Survivor semantics, precisely: for EACH duplicated window, the first
    occurrence (globally smallest (id, pos)) is protected from THAT
    window's removal — but tokens inside it can still be deleted when a
    non-first occurrence of a *different* duplicated window overlaps them.
    Output text is the NORMALIZED token stream rejoined with single spaces
    (lowercased, whitespace-collapsed — the same canonical form every
    dedup operator here keys on), not the original byte stream; keep the
    original column alongside when byte-exact survivors matter.

    Token-window approximation of Lee et al.'s suffix-array substring dedup
    re-expressed as DataFrame ops: the duplicated-window table is the same
    digest-grouped aggregate as ``duplicate_span_metrics``; removal explodes
    ONLY duplicate windows into covered positions (cost ∝ duplicated
    volume, not corpus size), and reassembly is one groupBy(id).

    Returns (id, text, n_tokens, n_tokens_kept).
    """
    grams = _span_gram_table(df, id_col, text_col, span)
    # one aggregate carries both the count and the survivor key: min(struct)
    # for singleton grams is wasted only nominally — partial aggregation
    # reduces map output to one row per digest either way, and a second
    # count-then-join pass would cost an extra shuffle of the dup grams
    occ = grams.groupBy("gkey").agg(
        F.count(F.lit(1)).alias("occ"), F.min(F.struct("id", "pos")).alias("__first")
    )
    later = (
        grams.join(occ.filter(F.col("occ") >= min_count), "gkey")
        .filter(
            (F.col("id") != F.col("__first.id")) | (F.col("pos") != F.col("__first.pos"))
        )
        .select("id", "pos")
    )
    covered = later.select(
        "id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (span - 1))).alias("tpos"),
    ).distinct()
    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens(text_col)).alias("tpos", "tok"),
    )
    kept = toks.join(covered, ["id", "tpos"], "left_anti")
    rebuilt = kept.groupBy("id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("text"),
        F.count(F.lit(1)).alias("n_tokens_kept"),
    )
    totals = toks.groupBy("id").agg(F.count(F.lit(1)).alias("n_tokens"))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(totals, "id", "left")
        .join(rebuilt, "id", "left")
        .select(
            "id",
            F.coalesce("text", F.lit("")).alias("text"),
            F.coalesce("n_tokens", F.lit(0)).cast("long").alias("n_tokens"),
            F.coalesce("n_tokens_kept", F.lit(0)).cast("long").alias("n_tokens_kept"),
        )
    )


def lsh_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """(id, sig) — the persistable near-dup index of a corpus: just the
    minhash signatures (write to parquet; ~num_hashes longs per document).

    Band buckets are DERIVED from the signature at query time
    (``_banded_buckets``), so the index (a) is band-parameter-agnostic —
    re-tune bands/rows without re-shingling petabytes — and (b) never
    stores or re-reads document text.
    """
    return minhash_signatures(df, id_col, text_col, n, num_hashes)


def incremental_near_dups(
    new_df: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
    bands: int = 4,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicates of NEW documents against an EXISTING corpus's
    ``lsh_index`` — the daily-ingest dedup pattern: each batch is checked
    against the accumulated index without re-shingling (or even storing)
    the old corpus text.

    Candidates come from the band-bucket equi join of the new batch's
    signatures against buckets derived from the stored ones; verification
    uses the minhash Jaccard ESTIMATE (fraction of agreeing signature
    positions — the only verify possible without old text, unbiased with
    stderr ≈ 1/sqrt(num_hashes); raise num_hashes for tighter gating).
    Returns (new_id, index_id, est_jaccard >= threshold). Append the new
    batch's signatures to the index afterwards:
    ``index.unionByName(lsh_index(new_batch, ...))``.
    """
    # cache: the batch's signatures feed BOTH the candidate branch and the
    # verify join — uncached, the shingle+minhash DAG (the expensive step
    # this function exists to avoid repeating) would execute twice. The
    # blocks are batch-sized and released by ContextCleaner when the result
    # frame is GC'd (same ownership contract as near_dup_pairs' shingle
    # cache).
    new_sig = minhash_signatures(new_df, id_col, text_col, n, num_hashes).cache()
    a = _banded_buckets(new_sig, num_hashes, bands).alias("a")
    b = _banded_buckets(index, num_hashes, bands).alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(F.col("a.id").alias("new_id"), F.col("b.id").alias("index_id"))
        .distinct()
    )
    sa = new_sig.select(F.col("id").alias("new_id"), F.col("sig").alias("__sa"))
    sb = index.select(F.col("id").alias("index_id"), F.col("sig").alias("__sb"))
    agree = F.size(
        F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y), lambda t: t)
    )
    return (
        cand.join(sa, "new_id")
        .join(sb, "index_id")
        .withColumn("est_jaccard", F.round(agree / num_hashes, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("new_id", "index_id", "est_jaccard")
    )


def update_lsh_index(
    index: DataFrame,
    new_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_hashes: int = 16,
) -> DataFrame:
    """Refresh a persisted ``lsh_index`` with an ingest batch: EVERY batch
    id's old signature is dropped, then the batch's new signatures append —
    so edited documents are re-signed, unseen ids append, and a batch doc
    whose new text is too short to shingle (< n words) is REMOVED from the
    index rather than left with its stale signature (the old content no
    longer exists; keeping its signature would report near-dups against a
    ghost). Plan: one left-anti join of the index against the distinct
    batch ids + a union — no signature recompute for the untouched corpus.

    The batch MUST be shingled with the same (n, num_hashes) the index was
    built with — signatures of different parameters are incomparable, and
    nothing in the stored (id, sig) rows can detect an ``n`` mismatch.
    Write the result back to a NEW path and swap (same contract as
    ``merge_upsert``).
    """
    null_ids = new_df.agg(
        F.sum(F.col(id_col).isNull().cast("long")).alias("n")
    ).collect()[0]["n"]
    if null_ids:
        raise ValueError(
            f"batch contains {null_ids} row(s) with a null key — a null id "
            "can never replace its index row; drop or key those rows first"
        )
    new_sig = lsh_index(new_df, id_col, text_col, n, num_hashes)
    batch_ids = new_df.select(F.col(id_col).alias("id")).distinct()
    kept = index.join(batch_ids, "id", "left_anti")
    return kept.unionByName(new_sig)


def optimal_bands(num_hashes: int, threshold: float) -> tuple[int, int]:
    """Pick the (bands, rows_per_band) factorization of ``num_hashes`` whose
    LSH S-curve threshold sits closest to the target Jaccard ``threshold``.

    For b bands of r rows, the probability a pair with similarity s shares
    at least one band bucket is 1 - (1 - s^r)^b, an S-curve whose steep
    midpoint is ~(1/b)^(1/r) (Leskovec/Rajaraman/Ullman, Mining of Massive
    Datasets §3.4.3). Tuning by formula instead of folklore matters at
    scale: a midpoint far below the target floods the verify stage with
    false candidates (bucket-join blowup), far above it silently loses
    recall. Pure driver arithmetic over the divisors of num_hashes.
    """
    if num_hashes < 2:
        raise ValueError("num_hashes must be >= 2")
    if not 0.0 < threshold < 1.0:
        raise ValueError("threshold must be in (0, 1)")
    best: tuple[float, int, int] | None = None
    for r in range(1, num_hashes + 1):
        if num_hashes % r:
            continue
        b = num_hashes // r
        if b < 1 or (b == 1 and r == 1):
            continue
        midpoint = (1.0 / b) ** (1.0 / r)
        gap = abs(midpoint - threshold)
        if best is None or gap < best[0]:
            best = (gap, b, r)
    assert best is not None
    return best[1], best[2]
