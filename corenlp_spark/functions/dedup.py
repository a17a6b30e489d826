"""Document deduplication suite for training-data pipelines.

Four strategies over the ``documents`` table (doc_id, text, …):
  - exact:        md5 fingerprint group-by (engine-portable hashing)
  - minhash LSH:  shingle → per-band min(md5(shingle ∥ band)) → (band, mh)
                  buckets; pairs verified inside each bucket by exact
                  shingle Jaccard
  - simhash:      60-bit sign-sum of per-token md5 bits → 4 × 15-bit block
                  buckets; pairs verified inside each bucket by exact
                  hamming distance
  - n-gram jaccard: exact Jaccard on word n-gram sets for candidate pairs

Every pair search emits (doc_a, doc_b, jaccard | hamming) with
doc_a < doc_b, and ``dup_components`` reads those two columns.

Column-level logic is built-in ``pyspark.sql.functions`` (JVM-side,
codegen'd) except for row- or bucket-local Arrow kernels
(``mapInPandas``): shingling + minhash signatures (``_shingle_mhs_kernel``),
the simhash sign sum, and the in-bucket verifies of ``minhash_dup_pairs``
(Jaccard) and ``simhash_pairs_from_sigs`` (hamming), both run by
``similarity.bucket_pairs``, the one in-bucket verifier, shared with the
LSH and IVF pair searches. Each is value-identical to its SQL form. Hashes
are md5-hex so a DuckDB oracle can reproduce every value bit-for-bit.

Scale notes: minhash bands bound the verify fan-out (no O(n²) compare);
the simhash blocks (4 × 15 bits) bound the hamming search the same way.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def exact_dup_clusters(docs: DataFrame) -> DataFrame:
    """Clusters of byte-identical texts: (fingerprint, n_docs, min_doc_id)."""
    return (
        docs.withColumn("fingerprint", F.md5("text"))
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_docs"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


#: a paragraph found in at least this many distinct documents is boilerplate
PARA_MIN_DOCS = 2


def paragraph_dup_stats(docs: DataFrame) -> DataFrame:
    """Cross-document paragraph-level exact dedup (the RefinedWeb /
    MassiveText recipe: a paragraph repeated across many pages is
    boilerplate — nav bars, cookie banners, license footers — and is
    removed from every page, not just deduped at document granularity).

    Split each doc on newline runs, trim, drop empties, md5 each
    paragraph, and return every paragraph that occurs in ≥
    ``PARA_MIN_DOCS`` DISTINCT documents: (para_hash, n_docs, n_occurrences, para_chars).

    Scale shape: one narrow split+explode pass over the corpus, one
    hash-partitioned groupBy on the paragraph hash with map-side partial
    aggregation; the output is proportional to the boilerplate incidence,
    not the corpus size. No UDFs — md5/split are codegen'd, so a DuckDB
    oracle reproduces every hash bit-for-bit."""
    paras = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.col("text"), r"\n+")).alias("para"),
        )
        .select("doc_id", F.trim(F.col("para")).alias("para"))
        .filter(F.length("para") > 0)
    )
    return (
        paras.groupBy(F.md5("para").alias("para_hash"))
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min(F.length("para")).alias("para_chars"),
        )
        .filter(F.col("n_docs") >= PARA_MIN_DOCS)
    )


#: (n_bands → gram → [band-salted md5 digests]) — see _shingle_mhs_kernel
_MD5_BAND_CACHE: dict[int, dict[str, list[bytes]]] = {}
#: token → truncated md5 int — see simhash()
_MD5_TOKEN_CACHE: dict[str, int] = {}


def _shingle_mhs_kernel(n_bands: int, k: int, with_sh: bool, id_type: str):
    """Arrow-batched (doc_id[, sh], mhs) kernel: distinct word k-shingles
    and the per-band min-md5 signatures, computed row-locally in one pass
    (r6, guide §4.2 — replaces the interpreted transform/array_min HOF
    forest; md5 hex and the shingle construction are byte-identical to the
    SQL twin, including the short-doc concat_ws-skips-missing semantics and
    lexicographic hex min)."""
    import hashlib
    from typing import Iterator

    import pandas as pd

    from corenlp_spark.functions.textstats import word_tokens

    suffixes = [f"#{b}".encode() for b in range(n_bands)]
    # r6: md5 is a pure function of (gram, band) and corpora repeat shingles
    # (Zipf), so per-gram band digests are cached across docs AND tasks
    # (module-level, reused Python workers). Capped so a pathological
    # vocabulary degrades to the plain path; values identical by purity.
    # Raw 16-byte digests take ~30% less memory than 32-char hex; fixed-
    # width lowercase hex sorts like its bytes, so only each band's
    # minimum is hexed.
    cache = _MD5_BAND_CACHE.setdefault(n_bands, {})

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            out = {"doc_id": [], "mhs": []}
            if with_sh:
                out["sh"] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = word_tokens(text)
                n = len(toks)
                grams = list(dict.fromkeys(
                    " ".join(toks[i:i + k]) for i in range(max(n - k, 0) + 1)))
                out["doc_id"].append(doc_id)
                if with_sh:
                    out["sh"].append(grams)
                rows = []
                for g in grams:
                    dg = cache.get(g)
                    if dg is None:
                        e = g.encode()
                        dg = [md5(e + suf).digest() for suf in suffixes]
                        if len(cache) < 200_000:
                            cache[g] = dg
                    rows.append(dg)
                out["mhs"].append([min(b).hex() for b in zip(*rows)])
            yield pd.DataFrame(out)

    cols = f"doc_id {id_type}, "
    if with_sh:
        cols += "sh array<string>, "
    return kernel, cols + "mhs array<string>"


def minhash_signatures(docs: DataFrame, n_bands: int = 8, k: int = 3) -> DataFrame:
    """(doc_id, band, mh): per-band minhash of word k-shingles — the
    signatures come from the row-local Arrow kernel (one narrow map), then
    one posexplode to the per-band rows."""
    kernel, schema = _shingle_mhs_kernel(
        n_bands, k, with_sh=False,
        id_type=docs.schema["doc_id"].dataType.simpleString())
    sigs = docs.select("doc_id", "text").mapInPandas(kernel, schema=schema)
    return sigs.select(
        "doc_id", F.posexplode("mhs").alias("band", "mh"))


def minhash_dup_pairs(
    docs: DataFrame, n_bands: int = 8, k: int = 3, threshold: float = 0.8
) -> DataFrame:
    """Near-duplicate pairs: LSH band-bucket candidates verified by exact
    shingle Jaccard ≥ threshold. Returns (doc_a, doc_b, jaccard), doc_a<doc_b.

    Each doc's shingle set travels ONCE per band into its (band, mh)
    bucket (n_bands × corpus bytes, the minimum any bucket verify needs)
    and ``similarity.bucket_pairs`` verifies the pairs inside the bucket,
    keeping a pair only in the LOWEST band whose minhashes agree (each doc
    carries its full mh vector): no candidate-pair join, no dedup exchange.
    Jaccard is int set sizes and a double division, rounded like
    ``F.round(x, 6)`` (``textstats._round6_like_spark``). Per-bucket work
    is quadratic in bucket size."""
    import numpy as np

    from corenlp_spark.functions.similarity import bucket_pairs
    from corenlp_spark.functions.textstats import _round6_like_spark_array

    id_type = docs.schema["doc_id"].dataType.simpleString()
    kernel, schema = _shingle_mhs_kernel(n_bands, k, with_sh=True,
                                         id_type=id_type)
    posted = (
        docs.select("doc_id", "text").mapInPandas(kernel, schema=schema)
        .select("doc_id", "sh", "mhs",
                F.posexplode("mhs").alias("band", "mh"))
    )

    def verify(part):
        sets = [frozenset(s) for s in part["sh"]]
        size = np.array([len(s) for s in sets], dtype=np.int64)

        def score(pa, pb):
            inter = np.array([len(sets[a] & sets[b]) for a, b in
                              zip(pa.tolist(), pb.tolist())], dtype=np.int64)
            jac = inter / (size[pa] + size[pb] - inter)
            return jac >= threshold, _round6_like_spark_array(jac)

        return score

    return bucket_pairs(posted, ("band", "mh"), verify, "doc_id",
                        out=("doc_a", "doc_b", "jaccard"), band_keys="mhs")


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit sign-sum simhash from per-token md5 bits.

    bit_j(token) = j-th bit of md5(token); simhash bit j = majority vote
    (2·ones > n form). r6 shape (guide §2.4/§4.2): the whole signature is
    row-local integer arithmetic, so it runs as ONE Arrow-batched kernel —
    md5 per distinct token, a vectorized per-bit segment sum
    (np.add.reduceat over the batch's token matrix), majority vote, done.
    The previous shape exploded every distinct token into a 61-column
    groupBy — a shuffle of ~45 rows × 61 longs per doc that existed only
    to reassemble what the row already had. Tokenization mirrors the SQL
    twin exactly (ASCII \\w/\\s, the Java regex default); md5 and the
    15-hex-digit truncation are byte-identical, all integer math — the
    DuckDB oracle still replays the exploded ±1 form bit-for-bit.
    Docs with zero tokens are absent from the result, as before."""
    import hashlib
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from corenlp_spark.functions.textstats import word_tokens

    id_type = docs.schema["doc_id"].dataType.simpleString()
    shifts = np.arange(60, dtype=np.uint64)
    pow2 = (np.uint64(1) << shifts).astype(np.int64)
    cache = _MD5_TOKEN_CACHE  # pure value cache (md5 of the token bytes)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        md5 = hashlib.md5
        for pdf in batches:
            ids, hs, counts = [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = dict.fromkeys(word_tokens(text))
                if not toks:
                    continue
                ids.append(doc_id)
                counts.append(len(toks))
                for t in toks:
                    h = cache.get(t)
                    if h is None:
                        h = int(md5(t.encode()).hexdigest()[:15], 16)
                        if len(cache) < 500_000:
                            cache[t] = h
                    hs.append(h)
            if not ids:
                continue
            H = np.array(hs, dtype=np.uint64)
            B = ((H[:, None] >> shifts[None, :]) & np.uint64(1)).astype(np.int64)
            starts = np.zeros(len(ids), dtype=np.int64)
            np.cumsum(np.array(counts[:-1], dtype=np.int64), out=starts[1:])
            ones = np.add.reduceat(B, starts, axis=0)
            n = np.array(counts, dtype=np.int64)[:, None]
            sim = ((2 * ones > n) * pow2[None, :]).sum(axis=1)
            yield pd.DataFrame({"doc_id": ids, "simhash": sim})

    return docs.select("doc_id", "text").mapInPandas(
        kernel, schema=f"doc_id {id_type}, simhash long")


#: the 60-bit simhash split into 4 disjoint 15-bit blocks — by pigeonhole
#: any pair with hamming distance ≤ 3 agrees on at least one whole block
#: (Charikar multi-table recipe), so bucketing each block guarantees every
#: hamming-≤3 pair a collision; the old single 16-bit-prefix bucket missed
#: pairs whose differing bits all fell inside the prefix.
_SIMHASH_BLOCKS = 4
_SIMHASH_BLOCK_BITS = 15


def simhash_pairs_from_sigs(sigs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs from a (doc_id, simhash) signature table:
    (doc_a, doc_b, hamming), doc_a < doc_b.

    Multi-table LSH: each signature is posted under its 4 (tbl, key)
    blocks, carrying all 4 keys, and ``similarity.bucket_pairs`` verifies
    exact hamming (XOR + popcount) inside each bucket, keeping a pair only
    in the LOWEST table whose blocks agree: exactly one row per pair, no
    self-join, no dedup exchange. Guaranteed recall for hamming ≤ 3 with
    60-bit hashes; per-bucket work is quadratic in bucket size."""
    import numpy as np

    from corenlp_spark.functions.similarity import bucket_pairs

    mask = (1 << _SIMHASH_BLOCK_BITS) - 1
    blocks = F.array(*[
        F.shiftright("simhash", t * _SIMHASH_BLOCK_BITS).bitwiseAND(F.lit(mask))
        for t in range(_SIMHASH_BLOCKS)])
    posted = sigs.select("doc_id", "simhash", blocks.alias("keys")).select(
        "doc_id", "simhash", "keys", F.posexplode("keys").alias("tbl", "key"))
    m1, m2, m4, h01 = (np.uint64(c) for c in (
        0x5555555555555555, 0x3333333333333333, 0x0F0F0F0F0F0F0F0F,
        0x0101010101010101))

    def verify(part):
        sim = part["simhash"].to_numpy(dtype=np.int64).view(np.uint64)

        def score(pa, pb):
            # popcount(a ^ b), SWAR bit-count (numpy 1.x has no bitwise_count)
            x = sim[pa] ^ sim[pb]
            x = x - ((x >> np.uint64(1)) & m1)
            x = (x & m2) + ((x >> np.uint64(2)) & m2)
            x = (x + (x >> np.uint64(4))) & m4
            ham = (x * h01) >> np.uint64(56)
            return ham <= max_hamming, ham.astype(np.float64)

        return score

    pairs = bucket_pairs(posted, ("tbl", "key"), verify, "doc_id",
                         out=("doc_a", "doc_b", "hamming"), band_keys="keys")
    return pairs.withColumn("hamming", F.col("hamming").cast("int"))


def simhash_dup_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup pairs by simhash hamming distance, multi-table-bucketed so
    the verify never goes cartesian AND every hamming-≤3 pair is found."""
    return simhash_pairs_from_sigs(simhash(docs), max_hamming)


#: ngram_jaccard_pairs drops a shingle found in more than this many docs
HOT_SHINGLE_CAP = 100


def ngram_jaccard_pairs(
    docs: DataFrame, k: int = 3, threshold: float = 0.5
) -> DataFrame:
    """n-gram Jaccard for candidate pairs sharing ≥1 (non-hot) shingle.

    Inverted-index join (shingle → docs) with a frequency cap on hot shingles
    (stop-shingle pruning — the classic skew guard for inverted joins; a
    shingle in > ``HOT_SHINGLE_CAP`` docs generates O(cap²) pairs and
    carries no dedup signal). Jaccard is computed over the pruned shingle space on both
    sides, so near-dup pairs above ``threshold`` still surface.
    """
    kernel, schema = _shingle_mhs_kernel(
        0, k, with_sh=True,
        id_type=docs.schema["doc_id"].dataType.simpleString())
    sh = (docs.select("doc_id", "text").mapInPandas(kernel, schema=schema)
          .select("doc_id", F.explode("sh").alias("s")))
    hot = sh.groupBy("s").count().filter(F.col("count") > HOT_SHINGLE_CAP)
    # persist the pruned shingle table: it feeds BOTH sides of the
    # inverted-index self-join AND the per-doc size agg, and Catalyst does
    # not collapse those three subtrees into a ReusedExchange (verified: 8
    # FileScans of the docs parquet in the executed plan without the cache).
    # Shingle rows are (id, hashable string) — a small fraction of the text
    # they index — so MEMORY_AND_DISK is cheap at any scale. (A raw-rows
    # persist BEFORE the hot census was tried and measured slower at both
    # sfs — the per-consumer anti-join replay costs more than the one
    # extra kernel pass it saves.)
    sh = (sh.join(F.broadcast(hot), "s", "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK))
    cand = (
        sh.alias("x").join(sh.alias("y"), "s")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .groupBy(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    # sizes over the same pruned shingle space (consistent jaccard)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    return (
        cand.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "n_b"), "doc_b")
        .withColumn("jaccard", F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


# above this many directed pairs dup_components leaves the driver
# union-find for the distributed min-label loop. Below it the graph is a few
# MB of ids and union-find answers in milliseconds, where each min-label
# round pays scheduler latency (observed 0.3-2 s/round under host jitter).
DRIVER_MAX_PAIRS = 250_000


def dup_components(pairs: DataFrame) -> DataFrame:
    """Connected components over a duplicate-pair table (doc_a, doc_b, …),
    as every pair search here emits it → (id, component) with component =
    min id reachable — the step that turns pair output into actual dedup
    decisions (keep one representative per component).

    The common path is union-find on the driver: the directed pairs are
    persisted once and at most ``DRIVER_MAX_PAIRS + 1`` of them are fetched
    in one Arrow ``toPandas`` job. Union-find needs neither both directions
    nor distinct rows, and the persist is released before returning. Only
    above the cap (the at-scale case: billions of pair edges) does the
    graph stay distributed: iterative min-label propagation in pure
    DataFrame ops over the symmetric edge list, each round one join +
    aggregation (shuffle on id), exiting as soon as no label changes.
    Labels only decrease, so the loop ends within diameter + 1 rounds;
    near-dup graphs are shallow-diameter (duplicates of a page form cliques
    through the banding). Both paths give the same labels and are
    deterministic."""
    # persisted so the pair pipeline (LSH bucketing + verification) runs
    # once: above the cap the fetch and both sides of the symmetrization
    # union read it again. Released on every exit, a failed fetch included.
    fwd = (pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
           .persist(StorageLevel.MEMORY_AND_DISK))
    try:
        pdf = fwd.limit(DRIVER_MAX_PAIRS + 1).toPandas()
        if len(pdf) > DRIVER_MAX_PAIRS:
            # every round reuses the deduped symmetric edge list
            edges = fwd.unionByName(
                fwd.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))
            ).distinct().localCheckpoint(eager=True)
    finally:
        fwd.unpersist()
    if len(pdf) <= DRIVER_MAX_PAIRS:
        parent: dict = {}

        def find(x):
            root = x
            while parent.get(root, root) != root:
                root = parent[root]
            while parent.get(x, x) != root:
                parent[x], x = root, parent[x]
            return root

        srcs, dsts = pdf["src"].tolist(), pdf["dst"].tolist()
        for src, dst in zip(srcs, dsts):
            ra, rb = find(src), find(dst)
            if ra != rb:
                # union by MIN id so the representative is deterministic
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out = [(i, find(i)) for i in sorted(set(srcs) | set(dsts))]
        id_type = fwd.schema["src"].dataType.simpleString()
        return fwd.sparkSession.createDataFrame(
            out, schema=f"id {id_type}, component {id_type}")
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    while True:
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id2"))
            .agg(F.min("component").alias("nmin"))
        )
        updated = (
            labels.join(neighbor_min, labels.id == neighbor_min.id2, "left")
            .select(
                "id",
                F.least(F.col("component"),
                        F.coalesce(F.col("nmin"), F.col("component"))
                        ).alias("component"),
                (F.coalesce(F.col("nmin"), F.col("component"))
                 < F.col("component")).alias("_changed"),
            )
        )
        updated = updated.localCheckpoint(eager=True)
        n_changed = updated.filter(F.col("_changed")).count()
        labels = updated.drop("_changed")
        if n_changed == 0:
            return labels
