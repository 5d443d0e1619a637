"""Document deduplication: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All pure column expressions (JVM-side, whole-stage codegen) — no Python in
the hot path. Hash values come from the portable md5-based hash so every
output is reproducible in DuckDB SQL (driver oracle) and numpy (pytest).

Scale notes (100 TB):
* exact_dedup — one hash-agg; trivially scales.
* ngram_jaccard_pairs — shingle self-join is quadratic in bucket size;
  it is the *verifier* for candidate pairs, not the discovery mechanism.
* minhash_lsh_pairs — the discovery mechanism: k permutations → b bands;
  only rows sharing a band bucket join. Band buckets are hash-distributed,
  so the join shuffles uniformly; a pathological bucket (boilerplate docs)
  is capped via `max_bucket` salting guard.
* simhash — 1 agg pass per doc; near-dup = fingerprints at small Hamming
  distance (grouped by fingerprint for exact-collision blocking).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from nifi_spark.datalib.graph import connected_components
from nifi_spark.functions.portable_hash import (portable_hash64,
                                                portable_hash64_py)

WORD_SPLIT = "\\s+"


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest id per exact content hash; adds dup_count."""
    h = F.md5(F.col(text_col))
    return (df.withColumn("content_hash", h)
            .groupBy("content_hash")
            .agg(F.min(id_col).alias(id_col),
                 F.count(F.lit(1)).alias("dup_count")))


def _words(text_col: str):
    return F.filter(F.split(F.lower(F.col(text_col)), WORD_SPLIT),
                    lambda t: t != "")


def shingle(df: DataFrame, id_col: str, text_col: str, k: int = 3) -> DataFrame:
    """Distinct word k-gram shingles: (id, shingle).

    Built as k shifted array slices combined with zip_with — the words
    array is referenced exactly k times. The obvious
    `transform(sequence(1, n), i -> element_at(w, i+j)…)` form inlines
    the whole split+filter subtree into every element_at (no common
    subexpression elimination inside lambdas), re-tokenizing the
    document once per gram position — quadratic in document length
    (~80 s for 5k documents vs ~1 s for this form).

    Docs with fewer than k words yield no shingles (slice length
    clamps to 0 → empty gram array).
    """
    w = _words(text_col)
    m = F.greatest(F.size(w) - (k - 1), F.lit(0))
    grams = F.slice(w, 1, m)
    for j in range(1, k):
        grams = F.zip_with(grams, F.slice(w, j + 1, m),
                           lambda a, b: F.concat(a, F.lit(" "), b))
    return (df.select(F.col(id_col), F.explode(F.array_distinct(grams))
                      .alias("shingle")))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        k: int = 3, threshold: float = 0.7,
                        candidates: DataFrame | None = None,
                        max_df: int | None = None) -> DataFrame:
    """Pairs (id_a < id_b) with Jaccard(shingle sets) >= threshold.

    With `candidates` (id_a, id_b — e.g. from minhash_lsh_pairs) this is
    the production VERIFY stage: candidate pairs join directly to the
    per-doc shingle sets and the intersection is one array_intersect per
    pair — cost is linear in |candidates| + corpus shingling, and there
    is NO shingle self-join anywhere in the plan (the earlier shape
    semi-joined candidates AFTER the full self-join, so one boilerplate
    shingle shared by 10^6 docs still exploded quadratically before the
    filter could run).

    Without `candidates` it discovers pairs via the shingle self-join —
    quadratic per shared shingle, oracle/verification scale only. For
    discovery runs over raw corpora, `max_df` drops shingles appearing
    in more than max_df documents BEFORE the self-join (two-phase:
    document-frequency count, then a semi-join on surviving shingles) —
    the boilerplate guard mirroring minhash_lsh_pairs' max_bucket.
    Sizes are computed after the cap, so Jaccard stays internally
    consistent over the informative-shingle space.
    """
    if candidates is not None:
        sets = (shingle(df, id_col, text_col, k)
                .groupBy(id_col)
                .agg(F.collect_list("shingle").alias("ss"),
                     F.count(F.lit(1)).alias("n")))
        sa = sets.select(F.col(id_col).alias("id_a"),
                         F.col("ss").alias("sa"), F.col("n").alias("n_a"))
        sb = sets.select(F.col(id_col).alias("id_b"),
                         F.col("ss").alias("sb"), F.col("n").alias("n_b"))
        return (candidates.select("id_a", "id_b").distinct()
                .join(sa, "id_a").join(sb, "id_b")
                .withColumn("inter",
                            F.size(F.array_intersect("sa", "sb"))
                            .cast("long"))
                .filter(F.col("inter") > 0)
                .withColumn("jaccard",
                            F.col("inter") / (F.col("n_a") + F.col("n_b")
                                              - F.col("inter")))
                .filter(F.col("jaccard") >= threshold)
                .select("id_a", "id_b", "inter", "n_a", "n_b",
                        F.round("jaccard", 6).alias("jaccard")))
    sh = shingle(df, id_col, text_col, k)
    if max_df is not None:
        keep = (sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
                .filter(F.col("_df") <= max_df).select("shingle"))
        sh = sh.join(keep, "shingle", "left_semi")
    sh = sh.cache()
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (a.join(b, "shingle")
             .filter(F.col("id_a") < F.col("id_b"))
             .groupBy("id_a", "id_b")
             .agg(F.count(F.lit(1)).alias("inter")))
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n").alias("n_b"))
    return (inter.join(na, "id_a").join(nb, "id_b")
            .withColumn("jaccard",
                        F.col("inter") / (F.col("n_a") + F.col("n_b")
                                          - F.col("inter")))
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "inter", "n_a", "n_b",
                    F.round("jaccard", 6).alias("jaccard")))


MINHASH_PRIME = (1 << 31) - 1  # Mersenne prime for the universal hashes


def minhash_perm_params(num_perm: int) -> list[tuple[int, int]]:
    """Deterministic (a_j, b_j) for perm_j(h) = (a_j*h + b_j) mod p —
    derived from the portable hash so Spark, DuckDB SQL, and Python all
    reproduce them."""
    out = []
    for j in range(num_perm):
        a = (portable_hash64_py(f"mh-a:{j}") % (MINHASH_PRIME - 1)) + 1
        b = portable_hash64_py(f"mh-b:{j}") % MINHASH_PRIME
        out.append((a, b))
    return out


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       k: int = 3, num_perm: int = 12) -> DataFrame:
    """MinHash signature per doc (mh_0..mh_{num_perm-1}).

    One portable md5 hash per shingle, folded to 30 bits, then num_perm
    universal hashes (a_j*h + b_j mod 2^31-1): integer-only after the
    single digest — ~num_perm× less hashing than a digest per
    permutation, exactly reproducible in DuckDB/ANSI SQL, and every
    intermediate stays < 2^61 (no overflow under Spark's ANSI mode)."""
    sh = shingle(df, id_col, text_col, k)
    h30 = (portable_hash64(F.col("shingle")) % F.lit(1 << 30))
    based = sh.withColumn("_h", h30)
    aggs = [F.min((F.lit(a) * F.col("_h") + F.lit(b)) % F.lit(MINHASH_PRIME))
            .alias(f"mh_{j}")
            for j, (a, b) in enumerate(minhash_perm_params(num_perm))]
    return based.groupBy(id_col).agg(*aggs)


def _band_buckets(sig: DataFrame, id_col: str, num_perm: int,
                  bands: int) -> DataFrame:
    """(id, band, bucket) rows from a signature table: bucket = md5 of
    the ':'-joined minhash row values of the band (the shared LSH
    banding shape — identical in minhash_lsh_pairs, the persisted dedup
    index, and their SQL twins)."""
    r = num_perm // bands
    band_cols = []
    for b in range(bands):
        parts = [F.col(f"mh_{b * r + j}").cast("string") for j in range(r)]
        band_cols.append(F.struct(
            F.lit(b).alias("band"),
            F.md5(F.concat_ws(":", *parts)).alias("bucket")))
    return (sig.select(F.col(id_col),
                       F.explode(F.array(*band_cols)).alias("bb"))
            .select(id_col, F.col("bb.band").alias("band"),
                    F.col("bb.bucket").alias("bucket")))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, num_perm: int = 12, bands: int = 4,
                      max_bucket: int = 1000) -> DataFrame:
    """Candidate near-dup pairs via banded LSH over MinHash signatures.

    num_perm must divide into `bands` equal rows; docs agreeing on ALL
    rows of any band become a candidate pair. Buckets larger than
    max_bucket are dropped (boilerplate guard — at web scale one viral
    page can otherwise create a quadratic bucket).

    The guard is TWO-PHASE: first a narrow count per (band, bucket)
    (map-side combinable — each partition contributes one partial count
    per bucket), then a semi-join keeps only 2..max_bucket buckets, and
    only THOSE aggregate their id lists. Filtering after collect_list
    would bound the quadratic pair explosion but not the aggregation
    buffer — a 10^7-member boilerplate bucket would OOM an executor
    while building an id list the filter then throws away.
    """
    assert num_perm % bands == 0
    sig = minhash_signatures(df, id_col, text_col, k, num_perm)
    banded = _band_buckets(sig, id_col, num_perm, bands)
    ok = (banded.groupBy("band", "bucket")
          .agg(F.count(F.lit(1)).alias("n"))
          .filter((F.col("n") > 1) & (F.col("n") <= max_bucket))
          .select("band", "bucket"))
    survivors = banded.join(ok, ["band", "bucket"], "left_semi")
    sized = survivors.groupBy("band", "bucket").agg(
        F.collect_list(id_col).alias("ids"))
    pairs = (sized.select(F.explode(F.expr(
                 "filter(transform(flatten(transform(ids, a -> "
                 "transform(ids, b -> struct(a as id_a, b as id_b)))), x -> x),"
                 " p -> p.id_a < p.id_b)")).alias("p"))
             .select("p.id_a", "p.id_b").distinct())
    return pairs


def lsh_band_plan(num_perm: int, threshold: float) -> dict:
    """Pick (bands, rows) for banded MinHash LSH from a target Jaccard
    threshold. The banding S-curve p(s) = 1-(1-s^r)^b has its
    inflection near t ≈ (1/b)^(1/r); choose the divisor pair of
    num_perm whose inflection lands closest to the requested threshold
    (the standard MMDS ch.3 tuning rule), so callers say 'near-dup
    means Jaccard ≥ 0.8' instead of hand-picking band counts."""
    best = None
    for b in range(1, num_perm + 1):
        if num_perm % b:
            continue
        r = num_perm // b
        t = (1.0 / b) ** (1.0 / r)
        if best is None or abs(t - threshold) < abs(best["inflection"]
                                                    - threshold):
            best = {"bands": b, "rows": r, "inflection": round(t, 4)}
    return best


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  bits: int = 16, max_hamming: int = 2) -> DataFrame:
    """Near-dup candidate pairs by SimHash Hamming distance ≤ k —
    the banded form that scales: split the `bits`-bit fingerprint into
    k+1 bands; two fingerprints within Hamming k MUST agree exactly on
    at least one band (pigeonhole), so candidates come from a band-value
    equi-join (like MinHash LSH banding) and only candidates pay the
    exact bit_count(xor) verification. No all-pairs comparison anywhere.
    Returns (id_a, id_b, hamming) with id_a < id_b."""
    n_bands = max_hamming + 1
    width = bits // n_bands
    sig = simhash(df, id_col, text_col, bits)
    band_cols = []
    for b in range(n_bands):
        lo = b * width
        w = width if b < n_bands - 1 else bits - lo  # last takes remainder
        band_cols.append(F.struct(
            F.lit(b).alias("band"),
            (F.shiftright(F.col("simhash"), lo) % (1 << w)).alias("val")))
    banded = (sig.select(id_col, "simhash",
                         F.explode(F.array(*band_cols)).alias("bb"))
              .select(id_col, "simhash", "bb.band", "bb.val"))
    a = banded.select(F.col(id_col).alias("id_a"),
                      F.col("simhash").alias("sh_a"), "band", "val")
    b2 = banded.select(F.col(id_col).alias("id_b"),
                       F.col("simhash").alias("sh_b"), "band", "val")
    return (a.join(b2, ["band", "val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b",
                    F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= max_hamming)
            .distinct())


def near_dup_clusters(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, num_perm: int = 12, bands: int = 4,
                      max_bucket: int = 1000,
                      pairs: DataFrame | None = None,
                      threshold: float | None = None) -> DataFrame:
    """Connected components over near-dup candidate pairs → keep/drop
    sets: (id, cluster_id = min id in component, keep = is-canonical).

    The missing last step of the dedup pipeline: minhash_lsh_pairs finds
    PAIRS, but dropping one doc per pair over-deletes chains (a~b, b~c
    must drop b and c, keep only a). The components come from
    graph.connected_components (large-star/small-star, O(log n) rounds
    on any pair graph, raises if it does not converge); docs with no
    pair are their own cluster. Ids may be of any orderable type, the
    same in `df` and the pairs.
    """
    # `pairs` may come from ANY candidate generator (minhash_lsh_pairs,
    # simhash_pairs, cosine/ANN pairs renamed to id_a/id_b) — clustering
    # composes over them. `threshold` picks the MinHash band count from
    # a target Jaccard via lsh_band_plan instead of a raw `bands`.
    if pairs is None and threshold is not None:
        bands = lsh_band_plan(num_perm, threshold)["bands"]
    p = pairs if pairs is not None else minhash_lsh_pairs(
        df, id_col, text_col, k, num_perm, bands, max_bucket)
    cc = connected_components(p, "id_a", "id_b")
    out = (df.select(F.col(id_col).alias("id")).distinct()
           .join(cc.withColumnRenamed("node", "id"), "id", "left")
           .select("id", F.coalesce("component", F.col("id"))
                   .alias("cluster_id")))
    return out.select(F.col("id").alias(id_col), "cluster_id",
                      (F.col("id") == F.col("cluster_id")).alias("keep"))


def build_dedup_index(df: DataFrame, id_col: str, text_col: str,
                      k: int = 3, num_perm: int = 12,
                      bands: int = 4) -> DataFrame:
    """Persisted dedup-index rows for INCREMENTAL corpus ingest:
    (doc_id, kind, key) with kind 'exact' (key = md5 of the raw text)
    plus one 'band:<b>' row per LSH band (key = the band bucket from
    _band_buckets). Docs with fewer than k words carry only their exact
    row — they have no shingles, so only exact matching can ever catch
    them. Append novel docs' rows batch-over-batch; the table stays
    O(docs × (bands + 1)) and partitions on `key` for the lookup join."""
    assert num_perm % bands == 0
    ex = df.select(F.col(id_col).alias("doc_id"),
                   F.lit("exact").alias("kind"),
                   F.md5(F.encode(F.col(text_col), "utf-8")).alias("key"))
    sig = minhash_signatures(df, id_col, text_col, k, num_perm)
    bd = (_band_buckets(sig, id_col, num_perm, bands)
          .select(F.col(id_col).alias("doc_id"),
                  F.concat(F.lit("band:"), F.col("band")).alias("kind"),
                  F.col("bucket").alias("key")))
    return ex.unionByName(bd)


def dedup_incremental(batch: DataFrame, index: DataFrame, id_col: str,
                      text_col: str, k: int = 3, num_perm: int = 12,
                      bands: int = 4) -> DataFrame:
    """Continuous-ingest dedup: classify each batch doc against a
    PERSISTED index (build_dedup_index rows) without touching the corpus
    text — the production shape for daily crawl drops, where re-running
    pairwise dedup over 100 TB per batch is not an option.

    Returns batch rows + (status, matched_id): 'exact_dup' (text md5
    present in the index), else 'near_dup' (≥1 LSH band bucket shared —
    a CANDIDATE; verify with ngram_jaccard_pairs(candidates=) when
    byte-precision matters), else 'novel'. matched_id = smallest
    matching indexed doc_id, -1 for novel.

    Scale shape: the index is collapsed to min(doc_id) PER KEY before
    either join — a viral bucket shared by millions of indexed docs
    becomes ONE row, so each batch doc joins at most (bands + 1) rows
    and the explosion window of classic LSH self-joins never opens.
    Intra-batch duplicates are out of scope by design (run exact_dedup /
    minhash_lsh_pairs within the batch first); novel rows' index
    entries come from build_dedup_index(novel) unioned onto the index."""
    bidx = build_dedup_index(batch, id_col, text_col, k, num_perm, bands)
    best = index.groupBy("kind", "key").agg(F.min("doc_id").alias("m"))
    hits = (bidx.join(best, ["kind", "key"])
            .groupBy("doc_id")
            .agg(F.min(F.when(F.col("kind") == "exact", F.col("m")))
                 .alias("xm"),
                 F.min(F.when(F.col("kind") != "exact", F.col("m")))
                 .alias("nm")))
    return (batch.join(hits.withColumnRenamed("doc_id", id_col),
                       id_col, "left")
            .select(*batch.columns,
                    F.when(F.col("xm").isNotNull(), F.lit("exact_dup"))
                    .when(F.col("nm").isNotNull(), F.lit("near_dup"))
                    .otherwise(F.lit("novel")).alias("status"),
                    F.coalesce("xm", "nm", F.lit(-1)).alias("matched_id")))


def paragraph_dedup(df: DataFrame, id_col: str, text_col: str,
                    sep: str = "\n", min_chars: int = 0,
                    out_col: str = "text_dedup") -> DataFrame:
    """C4-style repeated-paragraph removal at corpus scale: across the
    WHOLE corpus, each distinct paragraph survives only at its first
    occurrence (min (doc, position) wins); later copies — boilerplate
    headers, license blocks, navigation chrome — are dropped and the
    documents reassembled. Paragraphs shorter than `min_chars` are
    exempt (never deduped — short lines repeat legitimately), mirroring
    C4's span-length floor. Empty paragraphs are dropped.

    Plan shape: explode → one hash-agg on the paragraph text for the
    global winner (narrow: paragraph + min struct, map-side combinable)
    → equi-join back → per-doc reassembly agg. Two shuffles total, both
    on uniform keys; no windows, no driver involvement — at 100 TB the
    paragraph agg is the same shape as exact_dedup.

    Returns (id, out_col, n_paras, n_kept).
    """
    paras = (df.select(F.col(id_col),
                       F.posexplode(F.split(F.col(text_col), sep))
                       .alias("pos", "para"))
             .filter(F.col("para") != ""))
    dedupable = F.length(F.col("para")) >= min_chars
    winners = (paras.filter(dedupable)
               .groupBy("para")
               .agg(F.min(F.struct(F.col(id_col).alias("i"),
                                   F.col("pos").alias("p"))).alias("w")))
    kept = (paras.join(winners, "para", "left")
            .filter(~dedupable | F.col("w").isNull()
                    | ((F.col("w.i") == F.col(id_col))
                       & (F.col("w.p") == F.col("pos")))))
    sizes = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    rebuilt = (kept.groupBy(id_col)
               .agg(F.array_join(
                        F.transform(
                            F.array_sort(F.collect_list(
                                F.struct("pos", "para"))),
                            lambda s: s["para"]), sep).alias(out_col),
                    F.count(F.lit(1)).alias("n_kept")))
    return (sizes.join(rebuilt, id_col, "left")
            .select(id_col,
                    F.coalesce(F.col(out_col), F.lit("")).alias(out_col),
                    "n_paras", F.coalesce("n_kept", F.lit(0)).alias("n_kept")))


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint over word hashes (bit-majority), `bits` wide."""
    w = (df.select(F.col(id_col),
                   F.explode(F.split(F.lower(F.col(text_col)), WORD_SPLIT))
                   .alias("word"))
         .withColumn("h", portable_hash64(F.col("word"), seed="sim:")))
    # shiftright, NOT division: h/(1<<i) would go through double and lose
    # the low bits of the 60-bit hash (53-bit mantissa) — exact shifts keep
    # the fingerprint reproducible bit-for-bit in DuckDB ((h >> i) % 2).
    aggs = [F.sum(F.when((F.shiftright(F.col("h"), i) % 2) == 1,
                         1).otherwise(-1)).alias(f"b{i}") for i in range(bits)]
    per_bit = w.groupBy(id_col).agg(*aggs)
    fp = None
    for i in range(bits):
        term = F.when(F.col(f"b{i}") > 0, 1 << i).otherwise(0)
        fp = term if fp is None else fp + term
    return per_bit.select(F.col(id_col), fp.cast("long").alias("simhash"))


XS_P = (1 << 31) - 1      # Mersenne prime modulus of the rolling hash
XS_B1, XS_B2 = 1000003, 999983   # the two Horner bases


def _window_hash_hits(df: DataFrame, id_col: str, text_col: str,
                      k: int) -> DataFrame:
    """(id, n_tokens, pos, wh): one row per k-token window, wh = a
    62-bit rolling hash of the window's tokens. Tokenization is NOT
    lowercased — exact-substring dedup means byte-exact token runs.

    Shape: ONE portable 60-bit digest per token (inside the posexplode
    projection — the token array is a transform operand, so it is
    hashed exactly once), then two independent 31-bit polynomial
    Horner folds over each window's token hashes via lead() columns in
    one doc-partitioned WindowExec pass. Everything after the digest
    is codegen'd long arithmetic — the earlier k-level zip_with string
    chain evaluated ~k·tokens interpreted string concats and was ~10×
    slower at 10^5 windows. Every product stays under 2^62 (ANSI-safe:
    acc < 2^31, base < 2^20, token piece < 2^30); wh = h1·2^31 + h2,
    collision odds ~n²/2^63. The per-doc window is keyed by the doc id
    (bounded partitions — the bin_assign pattern), and only
    (id, pos, hash) longs reach the exchange.
    """
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), WORD_SPLIT),
                 lambda t: t != "").alias("_w"))
    th = F.transform("_w", lambda t: F.conv(
        F.substring(F.md5(F.concat(F.lit("xs:"), t)), 1, 15),
        16, 10).cast("long"))
    tok = toks.select(F.col(id_col),
                      F.size("_w").cast("long").alias("n_tokens"),
                      F.posexplode(th).alias("pos", "_th"))
    from pyspark.sql import Window
    w = Window.partitionBy(id_col).orderBy("pos")
    lo = F.col("_th") % (1 << 30)
    hi = F.shiftright("_th", 30)
    h1, h2 = lo, hi
    for j in range(1, k):
        h1 = (h1 * XS_B1 + F.lead(lo, j).over(w)) % XS_P
        h2 = (h2 * XS_B2 + F.lead(hi, j).over(w)) % XS_P
    return (tok.select(id_col, "n_tokens", "pos",
                       (h1 * F.lit(1 << 31) + h2).cast("long")
                       .alias("wh"))
            .filter(F.col("pos") <= F.col("n_tokens") - k))


def exact_substring_spans(df: DataFrame, id_col: str, text_col: str,
                          k: int = 20, min_count: int = 2) -> DataFrame:
    """Exact-substring duplication detector (the ExactSubstr pass of
    Lee et al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): any k-token window whose hash occurs >= min_count times
    in the WHOLE corpus (other documents or a repeat within the same
    one) marks its token range as duplicated; overlapping ranges merge
    into spans. Returns per-doc duplication stats for every input row:
    (id, n_tokens, n_dup_spans, dup_tokens).

    Plan shape (the distributed alternative to the paper's suffix
    array): one projection builds the window-hash array (k slice
    references, no re-tokenization), posexplode to narrow
    (id, pos, hash) rows — O(total tokens), no content in the shuffle —
    then one map-side-combinable hash-agg finds duplicated hashes, a
    left-semi join keeps only duplicated windows (at web scale the
    surviving fraction is small), and one groupBy(id) folds the sorted
    positions into merged spans with an integer aggregate — no windows,
    no driver collection. Every step is a uniform-key shuffle; nothing
    is quadratic in corpus or bucket size.
    """
    hits = _window_hash_hits(df, id_col, text_col, k)
    dup = (hits.groupBy("wh").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= min_count).select("wh"))
    dup_hits = hits.join(dup, "wh", "left_semi")
    return _span_stats(df, dup_hits, id_col, text_col, k,
                       "n_dup_spans", "dup_tokens")


def _span_stats(df: DataFrame, dup_hits: DataFrame, id_col: str,
                text_col: str, k: int, n_col: str,
                tok_col: str) -> DataFrame:
    """Merge marked window positions into spans per doc (sorted-positions
    integer fold) and join the stats back onto every input row."""
    zero = F.lit(0).cast("long")
    init = F.struct(zero.alias("n"), zero.alias("cov"),
                    F.lit(-1).cast("long").alias("s"),
                    F.lit(-1).cast("long").alias("e"))

    def merge(acc, p):
        new_island = (acc["s"] < 0) | (p >= acc["e"])
        return F.struct(
            (acc["n"] + F.when(new_island, 1).otherwise(0))
            .cast("long").alias("n"),
            (acc["cov"] + F.when(new_island & (acc["s"] >= 0),
                                 acc["e"] - acc["s"]).otherwise(0))
            .cast("long").alias("cov"),
            F.when(new_island, p).otherwise(acc["s"])
            .cast("long").alias("s"),
            (p + k).cast("long").alias("e"))

    def finish(acc):
        return F.struct(
            acc["n"].alias("n"),
            (acc["cov"] + F.when(acc["s"] >= 0, acc["e"] - acc["s"])
             .otherwise(0)).cast("long").alias("cov"))

    per_doc = (dup_hits.groupBy(id_col)
               .agg(F.aggregate(
                        F.sort_array(F.collect_list(
                            F.col("pos").cast("long"))),
                        init, merge, finish).alias("_sp")))
    sizes = df.select(
        F.col(id_col),
        F.size(F.filter(F.split(F.col(text_col), WORD_SPLIT),
                        lambda t: t != "")).cast("long").alias("n_tokens"))
    return (sizes.join(per_doc, id_col, "left")
            .select(id_col,
                    F.col("n_tokens"),
                    F.coalesce(F.col("_sp.n"), zero).alias(n_col),
                    F.coalesce(F.col("_sp.cov"), zero).alias(tok_col)))


def contaminated_spans(df: DataFrame, id_col: str, text_col: str,
                       benchmark: DataFrame, bench_text_col: str,
                       k: int = 15) -> DataFrame:
    """Benchmark-anchored exact-substring decontamination (the GPT-3
    appendix-C / Lee et al. ExactSubstr form of what
    benchmark_contamination approximates with shingle overlap): a
    corpus token range is contaminated when its k-token window appears
    VERBATIM anywhere in the benchmark set; overlapping windows merge
    into spans. Returns (id, n_tokens, n_contam_spans, contam_tokens)
    for every corpus row — filter or cut on these downstream.

    Plan shape: the benchmark side's window hashes are distinct'd and
    BROADCAST (benchmarks are small by construction — this is the same
    contract benchmark_contamination documents), so the corpus-side
    semi-join is map-side: the only shuffles are the corpus's own
    narrow (id, pos, hash) window pass and the per-doc span fold.
    """
    bench = benchmark.select(
        F.monotonically_increasing_id().alias("_bid"),
        F.col(bench_text_col))
    bench_wh = (_window_hash_hits(bench, "_bid", bench_text_col, k)
                .select("wh").distinct())
    hits = _window_hash_hits(df, id_col, text_col, k)
    marked = hits.join(F.broadcast(bench_wh), "wh", "left_semi")
    return _span_stats(df, marked, id_col, text_col, k,
                       "n_contam_spans", "contam_tokens")


def exact_substring_dedup(df: DataFrame, id_col: str, text_col: str,
                          k: int = 20, min_count: int = 2,
                          out_col: str = "text_dedup") -> DataFrame:
    """The remove half of ExactSubstr dedup: cut every merged duplicated
    span (see exact_substring_spans) out of the document and reassemble
    the survivors with single spaces (tokenized reconstruction — original
    whitespace is not preserved, matching the tokenizer the detector
    ran on). Returns (id, out_col, n_tokens, n_kept).

    Same plan as exact_substring_spans up to the per-doc fold, which here
    accumulates the merged span list instead of scalar stats; the cut is
    a per-token two-arg filter lambda against the (few) spans — O(tokens
    x spans) per document, no extra shuffle beyond the spans join.
    """
    hits = _window_hash_hits(df, id_col, text_col, k)
    dup = (hits.groupBy("wh").agg(F.count(F.lit(1)).alias("c"))
           .filter(F.col("c") >= min_count).select("wh"))
    dup_hits = hits.join(dup, "wh", "left_semi")
    lm1 = F.lit(-1).cast("long")
    init = F.struct(
        F.array().cast("array<struct<s:long,e:long>>").alias("arr"),
        lm1.alias("s"), lm1.alias("e"))

    def merge(acc, p):
        new_island = (acc["s"] < 0) | (p >= acc["e"])
        closed = F.array(F.struct(acc["s"].alias("s"), acc["e"].alias("e")))
        return F.struct(
            F.when(new_island & (acc["s"] >= 0),
                   F.concat(acc["arr"], closed))
            .otherwise(acc["arr"]).alias("arr"),
            F.when(new_island, p).otherwise(acc["s"])
            .cast("long").alias("s"),
            (p + k).cast("long").alias("e"))

    def finish(acc):
        last = F.array(F.struct(acc["s"].alias("s"), acc["e"].alias("e")))
        return F.when(acc["s"] >= 0, F.concat(acc["arr"], last)) \
                .otherwise(acc["arr"])

    spans = (dup_hits.groupBy(id_col)
             .agg(F.aggregate(
                      F.sort_array(F.collect_list(
                          F.col("pos").cast("long"))),
                      init, merge, finish).alias("_spans")))
    toks = df.select(
        F.col(id_col),
        F.filter(F.split(F.col(text_col), WORD_SPLIT),
                 lambda t: t != "").alias("_w"))
    joined = toks.join(spans, id_col, "left").withColumn(
        "_spans", F.coalesce(
            "_spans", F.array().cast("array<struct<s:long,e:long>>")))
    sp = F.col("_spans")
    kept = F.filter(
        "_w", lambda t, i: ~F.exists(
            sp, lambda s: (i >= s["s"]) & (i < s["e"])))
    return joined.select(
        F.col(id_col), F.array_join(kept, " ").alias(out_col),
        F.size("_w").cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"))
