"""Deduplication operators for training-data pipelines: exact, MinHash+LSH,
SimHash, n-gram Jaccard.

No counterpart in the reference (it validates, never dedups); these are the
north-star "operations a large-scale training-data pipeline needs". Scale
stance for each:

  * exact        — hash-groupBy on a normalized fingerprint: one shuffle on
                   a 16-byte key, map-side partial agg. The only full-data op.
  * MinHash+LSH  — shingles → k minhashes (ONE groupBy producing all k via
                   min(hash_i) aggregates) → band keys → self-join on band
                   key. Candidate pairs only; the quadratic explosion is
                   confined to same-band buckets.
  * SimHash      — 64-bit signature per doc from token hashes; near-dups =
                   band-equality buckets on signature chunks (Hamming-ball
                   probing without pairwise comparison).
  * n-gram Jaccard — exact verification for candidate pairs (or small
                   corpora): token-set self-join; use AFTER LSH at scale.

All hashing is ``xxhash64`` (JVM-side, seedable); no Python in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ndap_data_validator_spark.functions.porthash import portable_hash64
from ndap_data_validator_spark.functions.textstats import fingerprint


def _hash64(col: Column, seed: int, hash_fn: str) -> Column:
    """Seeded 64-bit hash. 'xxhash64' = production (JVM one-pass);
    'md5' = portable_hash64, bit-identical in any engine with md5 — used by
    the oracle-checked entry queries so an external engine can replay the
    whole minhash/simhash pipeline."""
    if hash_fn == "md5":
        return portable_hash64(col, seed=seed)
    return F.xxhash64(col, F.lit(seed))


# ------------------------------------------------------------------- exact

def exact_duplicate_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) texts:
    (fingerprint, keeper_id, dup_count) for groups with >1 member."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
        .where(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row (min id) per normalized-text group. min_by avoids a
    window: single aggregate, no per-row shuffle beyond the groupBy."""
    keepers = (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("__fp"))
        .groupBy("__fp")
        .agg(F.min(id_col).alias(id_col))
        .drop("__fp")
    )
    return df.join(keepers, on=id_col, how="left_semi")


# ------------------------------------------------------------------ shingles

def shingles(col: Column, n: int = 3) -> Column:
    """Word n-gram shingle array (distinct) of the casefolded text."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")
    k = F.size(toks) - (n - 1)
    return F.when(k <= 0, F.array(F.concat_ws(" ", toks))).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        )
    )


# ------------------------------------------------------------- MinHash + LSH

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]). All k minhashes come from one
    explode + one groupBy: min(hash(shingle, seed_i)) per i — partial
    aggregation collapses each document's shingles map-side."""
    ex = df.select(
        F.col(id_col),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("__sh"),
    )
    aggs = [
        F.min(_hash64(F.col("__sh"), seed + i, hash_fn)).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    sig = ex.groupBy(id_col).agg(*aggs)
    return sig.select(
        id_col, F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("sig")
    )


def _bucket_pairs(
    banded: DataFrame,
    id_col: str,
    bucket_cols: list[str],
    id_col_out: tuple[str, str],
    max_bucket_size: int,
) -> DataFrame:
    """Self-join within buckets, SKEW-CAPPED: buckets up to
    ``max_bucket_size`` produce all pairs; larger buckets (a 10^3-member
    bucket would otherwise make one O(n²) join cell) produce STAR pairs
    (anchor = min id, paired with every other member) — O(n) per bucket,
    preserving connectivity for near-dup clustering. Bucket sizes come from
    one aggregate on the same band key the join shuffles on.

    A row with a NULL bucket key belongs to no bucket and pairs with
    nothing — the semantics of the equi-join on ``bucket_cols`` (NULL never
    equals NULL). The window below would otherwise group all NULL-key rows
    into one partition and emit anchor-star pairs among them."""
    from pyspark.sql import Window

    a_id, b_id = id_col_out
    for c in bucket_cols:
        banded = banded.where(F.col(c).isNotNull())
    # bucket size + anchor as WINDOW aggregates over the same bucket key
    # the self-join shuffles on (r06): the former groupBy+join pair cost
    # two extra exchanges; the window establishes the hash partitioning
    # once and the join below reuses it (guide §2.4).
    w = Window.partitionBy(*bucket_cols)
    tagged = banded.withColumn(
        "__n", F.count(F.lit(1)).over(w)
    ).withColumn("__anchor", F.min(id_col).over(w))
    small = tagged.where(F.col("__n") <= max_bucket_size)
    left = small.select(F.col(id_col).alias(a_id), *bucket_cols)
    right = small.select(F.col(id_col).alias(b_id), *bucket_cols)
    full_pairs = (
        left.join(right, on=bucket_cols)
        .where(F.col(a_id) < F.col(b_id))
        .select(a_id, b_id)
    )
    star_pairs = (
        tagged.where(F.col("__n") > max_bucket_size)
        .where(F.col(id_col) != F.col("__anchor"))
        .select(F.col("__anchor").alias(a_id), F.col(id_col).alias(b_id))
    )
    return full_pairs.unionByName(star_pairs).distinct()


def banded_signatures(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band_idx, band_hash): the signature split into ``bands`` rows
    of len(sig)/bands minhashes, each row hashed to one bucket key — the
    shared LSH index shape for both self-join near-dup mining and
    cross-corpus (corpus × benchmark) matching.

    ``hash_fn='md5'`` hashes each band as portable_hash64 over the
    comma-joined slice — any engine can replay the banding for
    verification."""

    def band_hash(b: Column) -> Column:
        sl = F.slice(
            F.col("sig"),
            b * (F.size("sig") / bands).cast("int") + 1,
            (F.size("sig") / bands).cast("int"),
        )
        if hash_fn == "md5":
            return portable_hash64(F.concat_ws(",", sl))
        return F.xxhash64(sl.cast("string"))

    return signatures.select(
        F.col(id_col),
        F.posexplode(
            F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), band_hash)
        ).alias("band_idx", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str = "doc_id",
    bands: int = 4,
    id_col_out: tuple[str, str] = ("id_a", "id_b"),
    max_bucket_size: int = 512,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Band the signature, self-join on (band_idx, band_hash). Returns
    distinct candidate pairs (a < b). Probability a pair with Jaccard s
    collides: 1-(1-s^r)^b.

    Buckets larger than ``max_bucket_size`` (e.g. 10^3 byte-identical docs
    all landing in one band bucket) emit star pairs instead of all pairs —
    see _bucket_pairs. Exact duplicates should be removed by dedup_exact
    BEFORE near-dup LSH anyway; the cap makes the pipeline robust when they
    aren't."""
    banded = banded_signatures(signatures, id_col, bands, hash_fn)
    return _bucket_pairs(
        banded, id_col, ["band_idx", "band_hash"], id_col_out, max_bucket_size
    )


def minhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int = 512,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Full pipeline: LSH candidates verified by exact shingle Jaccard →
    (id_a, id_b, jaccard ≥ threshold). Verification joins shingle sets for
    candidate pairs only."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, seed, hash_fn=hash_fn
    )
    pairs = lsh_candidate_pairs(
        sigs, id_col, bands=bands, max_bucket_size=max_bucket_size,
        hash_fn=hash_fn,
    )
    sets_ = df.select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("__set")
    )
    a = sets_.select(F.col(id_col).alias("id_a"), F.col("__set").alias("__sa"))
    b = sets_.select(F.col(id_col).alias("id_b"), F.col("__set").alias("__sb"))
    joined = pairs.join(a, "id_a").join(b, "id_b")
    inter = F.size(F.array_intersect("__sa", "__sb"))
    union = F.size(F.array_union("__sa", "__sb"))
    jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
    return (
        joined.select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------------------------ SimHash

def simhash(col: Column, seed: int = 42, hash_fn: str = "xxhash64") -> Column:
    """64-bit SimHash of the whitespace tokens: for each bit, sum(+1/−1 over
    token hashes) → sign. Expressed as 64 aggregate-over-array expressions
    folded into one bigint — pure Catalyst. With ``hash_fn='md5'`` the token
    hashes are 60-bit portable hashes (bits 60-63 vote 0 on every doc) so an
    external engine can reproduce the signature bit-for-bit."""
    toks = F.split(F.regexp_replace(F.lower(F.trim(col)), r"\s+", " "), " ")
    hashes = F.transform(toks, lambda t: _hash64(t, seed, hash_fn))
    out = F.lit(0).cast("bigint")
    for bit in range(64):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << bit if bit < 63 else -(2**63))) != 0, 1).otherwise(-1),
        )
        out = out.bitwiseOR(
            F.when(vote > 0, F.shiftleft(F.lit(1).cast("bigint"), bit)).otherwise(
                F.lit(0).cast("bigint")
            )
        )
    return out


def simhash_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bands: int = 4,
    seed: int = 42,
    max_bucket_size: int = 512,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Near-dup candidate pairs by band equality over the 64-bit simhash
    (bands of 16 bits): docs differing in ≤ bands−1 band regions collide in
    at least one band. Oversized buckets degrade to star pairs
    (see _bucket_pairs) so identical-doc floods stay O(n)."""
    bits_per = 64 // bands
    sh = df.select(
        F.col(id_col), simhash(F.col(text_col), seed, hash_fn).alias("__sh")
    )
    banded = sh.select(
        id_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band_idx"),
                        F.shiftrightunsigned(F.col("__sh"), i * bits_per)
                        .bitwiseAND(F.lit((1 << bits_per) - 1))
                        .alias("band_val"),
                    )
                    for i in range(bands)
                ]
            )
        ).alias("b"),
    ).select(id_col, "b.band_idx", "b.band_val")
    return _bucket_pairs(
        banded, id_col, ["band_idx", "band_val"], ("id_a", "id_b"),
        max_bucket_size,
    )


# ----------------------------------------------------- connected components

def connected_components(
    pairs: DataFrame,
    id_col_a: str = "id_a",
    id_col_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Near-dup CLUSTERS from candidate/verified pairs: (node, component)
    where component = the minimum node id reachable — the piece between
    pair generation and keeper selection (keep ``node == component``, drop
    the rest), standard in large-scale dedup pipelines.

    Algorithm: iterative min-label propagation + POINTER JUMPING. Each round
    (a) every node takes the min of its own and its neighbors' labels (one
    join + one groupBy), then (b) chases its label one indirection
    (comp := label(comp)) — path halving, so convergence is O(log diameter)
    rounds, not O(diameter). Each round ends in ``localCheckpoint`` to
    TRUNCATE plan lineage — without it Catalyst re-analyzes an
    exponentially growing tree and the driver OOMs around round ~15 (the
    standard iterative-DataFrame trap; a reliable checkpoint dir replaces
    localCheckpoint when executor loss matters). Star-capped LSH output
    (_bucket_pairs) keeps diameters tiny, so typical runs converge in 2-4
    rounds.

    Checkpoints are LAZY (``eager=False``): each round already runs one
    mandatory action (the convergence count), which materializes that
    round's checkpoint as a side effect — an eager checkpoint would pay a
    second job per round purely for scheduling overhead (half the wall on
    small inputs, where per-job latency dominates).
    """
    fwd = pairs.select(F.col(id_col_a).alias("src"), F.col(id_col_b).alias("dst"))
    rev = pairs.select(F.col(id_col_b).alias("src"), F.col(id_col_a).alias("dst"))
    edges = fwd.unionByName(rev).distinct().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        stepped = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))
                ).alias("comp"),
            )
        )
        ptr = stepped.select(
            F.col("node").alias("pnode"), F.col("comp").alias("pcomp")
        )
        new_labels = (
            stepped.join(ptr, stepped.comp == ptr.pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("pcomp"), F.col("comp"))
                ).alias("comp"),
            )
            .localCheckpoint(eager=False)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("node", "comp")


def dedup_keepers(
    pairs: DataFrame,
    all_ids: DataFrame,
    id_col: str = "doc_id",
    max_iterations: int = 20,
) -> DataFrame:
    """Cluster the near-dup pairs and keep one doc per component (the min
    id) plus every unpaired doc — the final SELECT of a dedup pipeline."""
    comp = connected_components(pairs, max_iterations=max_iterations)
    losers = comp.where(F.col("node") != F.col("comp")).select(
        F.col("node").alias(id_col)
    )
    return all_ids.join(losers, id_col, "left_anti")


# ------------------------------------------------------------ n-gram Jaccard

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 1,
    threshold: float = 0.5,
    broadcast_tokens: bool = False,
    max_token_df: int | None = None,
) -> DataFrame:
    """Exact Jaccard over word n-gram sets via token self-join —
    (id_a, id_b, jaccard). Quadratic in token buckets: use on small corpora
    or LSH candidates; at 100 TB this is the VERIFY stage, not the scan stage.

    Skew guards:
      * ``max_token_df`` — a token appearing in more than this many docs (a
        stop-word at n=1 makes an O(df²) join cell) is dropped from CANDIDATE
        GENERATION only (the standard document-frequency cut from the
        similarity self-join literature); surviving candidate pairs are then
        verified with EXACT Jaccard over the FULL token sets, so every
        reported pair carries its true score — only pairs connected solely
        through ultra-hot tokens can be missed. None = fully exact all-pairs.
      * ``broadcast_tokens`` defaults to False: AQE sizes the join from
        runtime statistics; the broadcast is opt-in for verified-small
        candidate slices.
    """
    sets_ = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), n).alias("s")
    ).withColumn("sz", F.size("s"))
    # Explode the shingle expression INLINE (one Generate over the scan),
    # never a pre-aliased array column: Generate-over-Project makes
    # InferFiltersFromGenerate clone the whole shingle tree into a Filter
    # (size(expr)>0 AND isnotnull(expr)) evaluated per SCAN row — and
    # higher-order functions are CodegenFallback, so those extra copies run
    # interpreted (measured 15x: 3.9s vs 0.26s on the sf0.1 verify slice).
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(shingles(F.col(text_col), n)).alias("tok"),
    )
    if max_token_df is not None:
        hot = (
            toks.groupBy("tok")
            .agg(F.count(F.lit(1)).alias("__df"))
            .where(F.col("__df") > max_token_df)
            .select("tok")
        )
        join_toks = toks.join(hot, "tok", "left_anti")
    else:
        join_toks = toks
    # set sizes stay OUT of the token self-join: the big shuffle carries
    # (id, tok) only; |set| (one row per doc, shingles are distinct so it
    # equals the token count) joins onto the candidate-pair aggregate,
    # which is orders of magnitude smaller than the token join input
    szs = toks.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = join_toks.select(F.col("id").alias("id_a"), "tok")
    b = join_toks.select(F.col("id").alias("id_b"), "tok")
    if broadcast_tokens:
        b = F.broadcast(b)
        szs = F.broadcast(szs)
    inter = (
        a.join(b, "tok")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
        .join(szs.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(szs.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
    )
    if max_token_df is not None:
        # exact verify over FULL sets for the (bounded) candidate pairs
        fa = sets_.select(F.col("id").alias("id_a"), F.col("s").alias("__sa"))
        fb = sets_.select(F.col("id").alias("id_b"), F.col("s").alias("__sb"))
        cand = inter.select("id_a", "id_b").join(fa, "id_a").join(fb, "id_b")
        ixn = F.size(F.array_intersect("__sa", "__sb"))
        unn = F.size(F.array_union("__sa", "__sb"))
        jac = F.when(unn > 0, ixn.cast("double") / unn).otherwise(F.lit(0.0))
        return (
            cand.select("id_a", "id_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= threshold)
        )
    jac = F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    return (
        inter.select("id_a", "id_b", jac.cast("double").alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


# ------------------------------------------------- incremental (delta) dedup

def minhash_index(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """The PERSISTED near-dup index of a corpus snapshot:
    (id, band_idx, band_hash, sig). One row per (doc, band); ``sig`` (the
    full minhash signature) rides along so a future batch can estimate
    Jaccard against historical docs WITHOUT their text — the index is what
    survives between crawls, the raw text need not.

    Size: ``bands`` rows × (id + 8-byte hash + num_hashes longs) per doc —
    a fixed small multiple of the id space, partitioned and joined on
    (band_idx, band_hash). Write it out with
    ``.write.partitionBy()``-free parquet; it re-reads straight into
    :func:`dedup_against_index`."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_n, seed, hash_fn=hash_fn
    )
    return banded_signatures(sigs, id_col, bands, hash_fn).join(sigs, id_col)


def dedup_against_index(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int | None = 512,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Match a NEW batch against a historical :func:`minhash_index` →
    (new_id, hist_id, est_jaccard) for every band collision whose
    signature-agreement estimate ≥ ``threshold`` — the incremental-crawl
    dedup shape: each delta batch joins the persisted index instead of
    re-mining the whole corpus.

    * the join is hash-partitioned on (band_idx, band_hash) — both sides
      shuffle ids+hashes only, never text;
    * ``est_jaccard`` is the matching-minhash fraction (the unbiased
      single-pass estimator; E[est] = true Jaccard, σ = √(J(1−J)/k)) —
      computed from signatures alone, because the historical TEXT is not
      required to exist anymore;
    * hot band buckets on the HISTORICAL side (boilerplate bands that
      accumulate forever) are capped at ``max_bucket_size`` rows kept by
      smallest xxhash64(id) — the deterministic star-cap convention —
      so one pathological bucket cannot quadratic-blow a delta run."""
    from pyspark.sql import Window

    new_sigs = minhash_signatures(
        new_docs, text_col, id_col, num_hashes, shingle_n, seed,
        hash_fn=hash_fn,
    )
    new_banded = banded_signatures(new_sigs, id_col, bands, hash_fn).join(
        new_sigs, id_col
    )
    hist = index.select(
        F.col(id_col).alias("hist_id"),
        "band_idx",
        "band_hash",
        F.col("sig").alias("__hsig"),
    )
    if max_bucket_size is not None:
        w = Window.partitionBy("band_idx", "band_hash").orderBy(
            F.xxhash64(F.col("hist_id").cast("string"))
        )
        hist = (
            hist.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= max_bucket_size)
            .drop("__rn")
        )
    cand = (
        new_banded.select(
            F.col(id_col).alias("new_id"),
            "band_idx",
            "band_hash",
            F.col("sig").alias("__nsig"),
        )
        .join(hist, ["band_idx", "band_hash"])
        .select("new_id", "hist_id", "__nsig", "__hsig")
        .dropDuplicates(["new_id", "hist_id"])
    )
    matches = F.size(
        F.filter(
            F.zip_with("__nsig", "__hsig", lambda a, b: a == b),
            lambda x: x,
        )
    )
    est = matches.cast("double") / F.lit(float(num_hashes))
    return cand.select(
        "new_id", "hist_id", F.round(est, 4).alias("est_jaccard")
    ).where(F.col("est_jaccard") >= threshold)


def dedup_incremental_batch(
    new_docs: DataFrame,
    index: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.7,
    seed: int = 42,
    max_bucket_size: int | None = 512,
    hash_fn: str = "xxhash64",
) -> tuple[DataFrame, DataFrame]:
    """One delta-load dedup step. Returns ``(report, new_index_rows)``:

    * ``report`` — every new doc: (id, matched_hist_id [lowest matching
      historical id, NULL if none], est_jaccard of that match, is_unique);
    * ``new_index_rows`` — :func:`minhash_index` rows for the UNIQUE new
      docs only, ready to append to the persisted index (duplicates of
      history never enter the index, so it grows with the deduped corpus,
      not the crawl volume).

    Within-batch near-dups are the existing self-join pipeline
    (:func:`minhash_near_duplicates` on ``new_docs``) — run it before or
    after; this function's contract is new-vs-HISTORY."""
    hits = dedup_against_index(
        new_docs, index, text_col, id_col, num_hashes, bands, shingle_n,
        threshold, seed, max_bucket_size, hash_fn,
    )
    best = hits.groupBy("new_id").agg(
        F.min("hist_id").alias("matched_hist_id"),
        F.max("est_jaccard").alias("est_jaccard"),
    )
    report = (
        new_docs.select(F.col(id_col))
        .join(best, new_docs[id_col] == best["new_id"], "left")
        .select(
            id_col,
            "matched_hist_id",
            "est_jaccard",
            F.col("matched_hist_id").isNull().alias("is_unique"),
        )
    )
    uniques = new_docs.join(
        report.where("is_unique").select(id_col), id_col, "left_semi"
    )
    new_rows = minhash_index(
        uniques, text_col, id_col, num_hashes, bands, shingle_n, seed,
        hash_fn,
    )
    return report, new_rows
