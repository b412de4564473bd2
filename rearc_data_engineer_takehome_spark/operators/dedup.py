"""Deduplication operators for training-data pipelines.

Five dedup families, each a pure DataFrame composition designed for the
100 TB shape of the problem:

  * exact        — hash-groupBy on content digest (never shuffles raw text);
  * n-gram Jaccard (exact) — inverted-index self-join on shingle hashes
    with a document-frequency cap to kill posting-list skew;
  * MinHash + LSH — banded signature buckets generate candidates, exact
    Jaccard verifies them (probabilistic recall, exact precision);
  * SimHash      — packed bit fingerprint, byte-band candidate buckets,
    Hamming-distance verify;
  * embedding cosine — blocked pairwise cosine over array<float>.

Hashes are md5-derived (functions/hashing.py) so every deterministic
stage is DuckDB-oracle verifiable; only LSH *bucketing recall* is
probabilistic, and tests assert recall against the exact operator.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..functions import hashing, vectors
from ..functions.text import word_shingles, ws_tokens
from .relational import materialize, spread_compute


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: canonical representative (min id) per distinct
    content digest. Grouping on md5(text) instead of the text itself
    keeps shuffle rows ~40 bytes regardless of document size — the
    difference between a feasible and an impossible shuffle at 100 TB.

    Returns (id_col, n_copies) — one row per distinct content.
    """
    return (
        df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__digest"))
        .groupBy("__digest")
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(id_col, "n_copies")
    )


def _shingle_posting(
    df: DataFrame, text_col: str, id_col: str, k: int, max_df: int | None
) -> DataFrame:
    """Distinct (doc, shingle_hash) posting list, optionally dropping
    shingles present in more than ``max_df`` documents (stopword-shingle
    skew cap — a shingle in a million docs forces a million² candidate
    pairs; capping document frequency is the standard fix)."""
    posting = (
        spread_compute(df)
        .select(
            F.col(id_col),
            F.explode(word_shingles(ws_tokens(F.col(text_col)), k)).alias("shingle"),
        )
        .select(id_col, hashing.stable_hash64(F.col("shingle")).alias("sh"))
        .distinct()
    )
    if max_df is not None:
        rare = (
            posting.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("df"))
            .where(F.col("df") <= max_df)
            .select("sh")
        )
        posting = posting.join(rare, "sh")
    return posting


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-duplicate pairs via inverted-index
    self-join: pairs sharing ≥1 shingle get their intersection counted
    in one shuffle; set sizes broadcast back in; J = |∩| / (|a|+|b|-|∩|).

    Returns (id_a, id_b, jaccard) with id_a < id_b, J ≥ threshold,
    jaccard rounded to 6dp for cross-engine comparison.
    """
    posting = materialize(
        _shingle_posting(df, text_col, id_col, k, max_df),
        "jaccard_posting", "cache",
    )
    return _jaccard_from_posting(posting, id_col, threshold)


def _digest_groups(df: DataFrame, text_col: str, id_col: str):
    """(members, reps, rep_docs) for exact-dedup staging: ``members`` is
    (g, id, rep) — every doc with its content digest and the digest
    group's min-id representative; ``rep_docs`` keeps one physical row
    per DISTINCT content. The groupBy shuffles 40-byte digests only."""
    digests = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("__g"))
    reps = digests.groupBy("__g").agg(F.min(id_col).alias("__rep"))
    members = digests.join(reps, "__g")
    rep_docs = df.join(
        reps.select(F.col("__rep").alias(id_col)), id_col
    )
    return members, reps, rep_docs


def _jaccard_from_posting(
    posting: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """(id_a, id_b, jaccard) from a (id, shingle-hash) posting list —
    the shared verify tail of the exact and staged operators."""
    sizes = posting.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = posting.select(F.col(id_col).alias("id_a"), "sh")
    b = posting.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def ngram_jaccard_pairs_staged(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 64,
) -> DataFrame:
    """Exact-dedup-STAGED n-gram Jaccard near-dup pairs — the corpus-
    scale form of :func:`ngram_jaccard_pairs`.

    Duplicate-heavy corpora (the normal case for web crawl) make the
    naive shingle self-join quadratic in copy count: every exact copy
    re-shingles and re-joins identical content. Staging collapses exact
    copies FIRST (digest groupBy — 40-byte shuffle rows), runs the
    shingle join on DISTINCT CONTENT only, then expands pairs back to
    members with two cheap equi-joins:

      * within a digest group every member pair is a J=1.0 pair
        (identical shingle sets), emitted directly — no shingle work;
      * a rep-level near-dup pair (ra, rb, J) expands to every cross
        pair (a ∈ group(ra), b ∈ group(rb)) with the same J, because
        Jaccard is content-determined.

    Groups whose representative has no post-cap shingles (text shorter
    than ``k`` words, or all shingles df-capped) emit nothing — the
    same behavior as the unstaged operator, which never pairs docs with
    empty posting lists. Note ``max_df`` counts document frequency over
    DISTINCT CONTENTS here (the better-defined semantics; the unstaged
    operator counts copies). Output is otherwise identical to the
    unstaged operator on any corpus, and IS identical when no exact
    duplicates exist.
    """
    members, _, rep_docs = _digest_groups(df, text_col, id_col)
    posting = materialize(
        _shingle_posting(rep_docs, text_col, id_col, k, max_df),
        "staged_posting", "cache",
    )
    rpairs = _jaccard_from_posting(posting, id_col, threshold)
    # reps with >=1 post-cap shingle — gate for within-group emission
    valid = posting.select(F.col(id_col).alias("__rep")).distinct()
    return _expand_rep_pairs(members, rpairs, valid, id_col)


def _expand_rep_pairs(
    members: DataFrame, rpairs: DataFrame, valid: DataFrame, id_col: str
) -> DataFrame:
    """Expand representative-level near-dup pairs back to digest-group
    members (shared tail of the staged and prefix-filtered operators):
    within-group member pairs are J=1.0 by content identity (gated on
    the rep having >=1 posting, mirroring the unstaged operator's
    never-pair-empty-posting behavior); a rep pair (ra, rb, J) expands
    to every cross member pair with the same J."""
    m = members.select("__g", F.col(id_col).alias("__m"), "__rep")
    within = (
        m.alias("m1")
        .join(m.alias("m2"), "__g")
        .where(F.col("m1.__m") < F.col("m2.__m"))
        .join(valid, F.col("m1.__rep") == valid["__rep"], "left_semi")
        .select(
            F.col("m1.__m").alias("id_a"),
            F.col("m2.__m").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    cross = (
        rpairs.join(
            m.select(F.col("__rep").alias("id_a"), F.col("__m").alias("__ma")),
            "id_a",
        )
        .join(
            m.select(F.col("__rep").alias("id_b"), F.col("__m").alias("__mb")),
            "id_b",
        )
        .select(
            F.least("__ma", "__mb").alias("id_a"),
            F.greatest("__ma", "__mb").alias("id_b"),
            "jaccard",
        )
    )
    return within.unionByName(cross)


def ngram_jaccard_pairs_prefix(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via PREFIX FILTERING (the
    PPJoin family, Xiao et al. WWW 2008) — lossless where the ``max_df``
    posting cap of :func:`ngram_jaccard_pairs_staged` is lossy.

    Candidate generation indexes only each document's PREFIX: its
    shingles sorted in a canonical global order (document frequency
    ascending, hash tie-break), truncated to the first
    ``n - ceil(t*n) + 1``. Two documents with Jaccard >= t must share
    at least one prefix shingle — if all common shingles sat in A's
    suffix (its last ceil(t*|A|)-1 canonical shingles), the overlap
    would be < ceil(t*|A|), contradicting J >= t (which forces
    |A∩B| >= t*|A| because |B| >= |A∩B|). So joining prefixes alone
    loses no qualifying pair.

    Why this scales where a raw inverted index cannot: the quadratic
    blowup of a self-join comes from high-document-frequency tokens
    (df f costs f^2 candidates). In df-ascending canonical order those
    hot tokens sort LAST, landing outside almost every prefix — they
    still participate in the exact verify (unlike a ``max_df`` drop),
    but never in candidate generation. Prefix postings are the rarest
    ~(1-t) fraction of each doc's shingles, so candidate fan-out stays
    near-linear. Candidates then pass a size filter
    (t * max(|A|,|B|) <= min(|A|,|B|), necessary for J >= t) and an
    exact verify: sorted shingle-hash arrays joined per candidate pair,
    ``array_intersect`` counting |A∩B| — per-pair cost proportional to
    document length, exactly PPJoin's verify cost, with no second
    inverted-index pass.

    Composes with exact-dedup staging (digest groupBy first, prefix
    join over DISTINCT CONTENT only, member expansion after) so exact
    copies never re-enter the index. Output is identical to
    :func:`ngram_jaccard_pairs_staged` with ``max_df=None``: (id_a,
    id_b, jaccard) with id_a < id_b, J >= threshold, 6dp rounding.
    """
    members, _, rep_docs = _digest_groups(df, text_col, id_col)
    posting = materialize(
        _shingle_posting(rep_docs, text_col, id_col, k, None),
        "prefix_posting", "cache",
    )
    dfreq = posting.groupBy("sh").agg(F.count(F.lit(1)).alias("__df"))
    # ONE per-doc aggregate yields both the canonical prefix (sort the
    # doc-length-bounded (df, sh) array IN-ROW and slice — no
    # row_number window, so no per-doc sort shuffle stage) and the
    # verify array (full shingle-hash set for array_intersect).
    arrs = materialize(
        posting.join(dfreq, "sh")
        .groupBy(id_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct("__df", "sh"))
            ).alias("__ord"),
            F.count(F.lit(1)).alias("__n"),
        )
        .select(
            id_col,
            F.col("__ord.sh").alias("__arr"),
            # ceil over a double product can land one integer HIGH when
            # t*n sits a half-ulp above an exact integer (double(0.8)*5);
            # the epsilon biases toward a LONGER prefix — extra
            # candidates only, which the exact verify discards
            F.slice(
                F.col("__ord.sh"),
                1,
                (
                    F.col("__n")
                    - F.ceil(F.lit(threshold) * F.col("__n") - F.lit(1e-9))
                    + 1
                ).cast("int"),
            ).alias("__pref"),
            "__n",
        ),
        "prefix_arrays", "cache",
    )
    prefix = arrs.select(
        id_col, F.explode("__pref").alias("sh"), "__n"
    )
    cand = (
        prefix.select(
            F.col(id_col).alias("id_a"), "sh", F.col("__n").alias("__na")
        )
        .join(
            prefix.select(
                F.col(id_col).alias("id_b"), "sh", F.col("__n").alias("__nb")
            ),
            "sh",
        )
        .where(
            (F.col("id_a") < F.col("id_b"))
            # epsilon-loose size filter (same half-ulp hazard as the
            # prefix length): may admit a borderline candidate, never
            # drops a qualifying one — the verify is exact either way
            & (
                F.lit(threshold) * F.greatest("__na", "__nb")
                <= F.least("__na", "__nb") + F.lit(1e-9)
            )
        )
        .select("id_a", "id_b")
        .distinct()
    )
    rpairs = (
        cand.join(
            arrs.select(
                F.col(id_col).alias("id_a"),
                F.col("__arr").alias("__aa"),
                F.col("__n").alias("__na"),
            ),
            "id_a",
        )
        .join(
            arrs.select(
                F.col(id_col).alias("id_b"),
                F.col("__arr").alias("__ab"),
                F.col("__n").alias("__nb"),
            ),
            "id_b",
        )
        .withColumn("__c", F.size(F.array_intersect("__aa", "__ab")))
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("__c") / (F.col("__na") + F.col("__nb") - F.col("__c")),
                6,
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )
    valid = posting.select(F.col(id_col).alias("__rep")).distinct()
    return _expand_rep_pairs(members, rpairs, valid, id_col)


def staged_near_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 64,
    max_iter: int = 20,
    cc: str = "label_prop",
) -> DataFrame:
    """Near-dup connected components with exact-dedup staging: Jaccard
    pairs among DISTINCT CONTENTS (see :func:`ngram_jaccard_pairs_staged`)
    plus STAR edges (rep → member) per digest group, then connected
    components. Star edges give the same components as expanding all
    within/cross member pairs — the edge count is linear in corpus size
    instead of quadratic in duplicate-cluster size, which is the
    difference between a bounded and an unbounded shuffle at 100 TB.
    Output (doc_id, cluster_id) is identical to
    ``cluster_pairs(ngram_jaccard_pairs(...))`` whenever df-cap
    semantics agree (cluster_id = min member id either way).

    ``cc`` selects the component algorithm: ``label_prop``
    (:func:`cluster_pairs`, O(diameter) rounds — the default for
    shallow near-dup graphs) or ``star`` (:func:`cluster_pairs_star`,
    O(log n) rounds — the choice when components may be deep)."""
    members, _, rep_docs = _digest_groups(df, text_col, id_col)
    posting = materialize(
        _shingle_posting(rep_docs, text_col, id_col, k, max_df),
        "cluster_posting", "cache",
    )
    rpairs = _jaccard_from_posting(posting, id_col, threshold).select(
        "id_a", "id_b"
    )
    valid = posting.select(F.col(id_col).alias("__rep")).distinct()
    star = (
        members.where(F.col(id_col) != F.col("__rep"))
        .join(valid, "__rep", "left_semi")
        .select(F.col("__rep").alias("id_a"), F.col(id_col).alias("id_b"))
    )
    edges = rpairs.unionByName(star)
    if cc == "star":
        return cluster_pairs_star(edges, max_iter=max_iter)
    return cluster_pairs(edges, max_iter=max_iter)


def incremental_dedup_filter(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 64,
) -> DataFrame:
    """Incremental ingest dedup: keep only batch documents that are
    neither exact nor near (n-gram Jaccard ≥ ``threshold``) duplicates
    of the EXISTING corpus. The production shape for continuous
    pretraining-data ingestion — the corpus is never self-paired, so
    each ingest costs O(batch × matched postings), not O(corpus²).

    Plan shape: one digest left-anti join (exact kills), then an
    inverted-index join of the batch's shingle posting against the
    corpus posting restricted to shingle hashes the batch actually
    contains (a semi-join prefilter keeps the corpus-side shuffle
    proportional to the batch's vocabulary, not the corpus). ``max_df``
    caps corpus-side document frequency, computed over the corpus —
    the boilerplate-shingle guardrail at ingest time.

    Returns the surviving batch rows (all original columns).
    """
    c_dig = corpus.select(F.md5(F.col(text_col)).alias("__digest")).distinct()
    b_dig = batch.select(
        F.col(id_col), F.md5(F.col(text_col)).alias("__digest")
    )
    exact_alive = b_dig.join(c_dig, "__digest", "left_anti").select(id_col)
    alive = batch.join(exact_alive, id_col, "left_semi")

    bp = materialize(
        _shingle_posting(alive, text_col, id_col, k, None),
        "ingest_batch_posting", "cache",
    )
    b_sizes = bp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_b"))
    # The corpus posting feeds both the size table and the vocabulary-
    # restricted join side; cache it so the corpus text is shingled ONCE
    # per ingest. In production this is the materialized posting INDEX —
    # built once, reused across every batch — so the cache models the
    # index within one ingest.
    cp = materialize(
        _shingle_posting(corpus, text_col, id_col, k, max_df),
        "ingest_corpus_posting", "cache",
    )
    # corpus posting restricted to the batch's shingle vocabulary BEFORE
    # its sizes are computed? NO — sizes must be the corpus documents'
    # true (capped) posting sizes, or the Jaccard denominator is wrong.
    c_sizes = cp.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_c"))
    cp_hit = cp.join(bp.select("sh").distinct(), "sh")

    common = (
        bp.select(F.col(id_col).alias("id_b"), "sh")
        .join(cp_hit.select(F.col(id_col).alias("id_c"), "sh"), "sh")
        .groupBy("id_b", "id_c")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    dupes = (
        common.join(
            b_sizes.select(F.col(id_col).alias("id_b"), "n_b"), "id_b"
        )
        .join(c_sizes.select(F.col(id_col).alias("id_c"), "n_c"), "id_c")
        .where(
            F.round(
                F.col("n_common")
                / (F.col("n_b") + F.col("n_c") - F.col("n_common")),
                6,
            )
            >= F.lit(threshold)
        )
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return alive.join(dupes, id_col, "left_anti")


def semantic_dedup(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_block: int | None = None,
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication: k-means the embedding
    space (deterministic Lloyd, :func:`similarity.kmeans_lloyd`), then
    within each cluster drop every vector that has a LOWER-id neighbour
    at cosine ≥ ``threshold`` (keep-first-by-id — the deterministic,
    parallel variant of SemDeDup's greedy keep-one-per-group; unlike
    the sequential greedy it needs no iteration order, so it stays one
    shuffle + one Arrow-batched pair pass).

    Scale shape: clustering never shuffles the fact table (broadcast
    centroids); the pair pass is the blocked BLAS operator keyed on the
    LEARNED cluster — exactly the "block key that bounds block size"
    the all-pairs operators require, with ``max_block`` salt-sharding
    as the guardrail when a cluster goes hot.

    Returns surviving (id_col, cluster) rows.
    """
    from .similarity import kmeans_lloyd

    assign = kmeans_lloyd(df, k=k, iters=iters, vec_col=vec_col, id_col=id_col)
    emb = df.select(id_col, vec_col).join(
        assign.select(id_col, "cluster"), id_col
    )
    pairs = embedding_near_dup_pairs_vectorized(
        emb,
        vec_col=vec_col,
        id_col=id_col,
        block_col="cluster",
        threshold=threshold,
        max_block=max_block,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return emb.select(id_col, "cluster").join(losers, id_col, "left_anti")


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = 16,
    seed: int = 7,
) -> DataFrame:
    """(id, signature array<bigint>) — deterministic, oracle-verifiable.

    Two-projection shape ON PURPOSE: the base md5 hash array is aliased
    in its own projection and referenced ``n_perm`` times by the affine
    permutations, so CollapseProject keeps it materialized and the md5s
    compute ONCE per shingle instead of once per permutation (measured
    8× difference at sf0.1). Input is compute-spread first: hashing is
    CPU-bound, not IO-bound.
    """
    shingles = word_shingles(ws_tokens(F.col(text_col)), k)
    base = spread_compute(df).select(
        F.col(id_col), hashing.shingle_hashes(shingles).alias("base_hashes")
    )
    return base.select(
        F.col(id_col),
        hashing.minhash_from_base(F.col("base_hashes"), n_perm, seed).alias(
            "signature"
        ),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 7,
    max_bucket: int | None = 16,
) -> DataFrame:
    """MinHash + banded LSH near-dup pairs, exact-Jaccard verified.

    Candidate generation: split the signature into ``bands`` bands of
    ``n_perm // bands`` rows; docs sharing any band hash become
    candidates (one shuffle on band key — never all-pairs). Verification
    computes exact Jaccard on the candidates only. Probabilistic recall
    (1-(1-s^r)^b), exact precision.

    ``max_bucket`` caps the quadratic term: a band bucket with more than
    ``max_bucket`` members (boilerplate pages, giant duplicate clusters —
    the normal case on web-scale corpora) switches from all-pairs to
    STAR pairing against the bucket's minimum id, so candidates per
    bucket are O(n) instead of O(n²). Star pairs preserve connected-
    component connectivity for duplicate clusters (every copy verifies
    J=1 against the representative) while bounding the candidate join;
    the recall loss is limited to non-min pairs inside oversized mixed
    buckets. Deterministic, so the DuckDB oracle replays it exactly.
    ``None`` disables the cap (exact all-pairs candidates).
    """
    rows = n_perm // bands
    sig = minhash_signatures(df, text_col, id_col, k, n_perm, seed)
    # PERF: the banded table feeds BOTH sides of the candidate self-join.
    # Without a cache, each join side re-inlines and re-evaluates the
    # full signature expression inside its Generate — interpreted, per
    # output row (measured 52 s vs 1 s at sf0.1). Caching the ~40-byte
    # band rows is also the correct 100 TB architecture: signatures are
    # computed once and reused across every LSH stage.
    banded = materialize(
        sig.select(
            id_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    ",",
                                    *[
                                        F.col("signature")
                                        .getItem(i * rows + j)
                                        .cast("string")
                                        for j in range(rows)
                                    ],
                                )
                            ).alias("bh"),
                        )
                        for i in range(bands)
                    ]
                )
            ).alias("bd"),
        )
        .select(id_col, "bd.band", "bd.bh"),
        "minhash_bands", "cache",
    )

    if max_bucket is not None:
        # Bucket stats ride the cached band rows (one extra hash-agg on
        # the SAME (band, bh) key as the self-join). The LEFT side of the
        # join is pre-filtered: in an oversized bucket only the min-id row
        # survives, so the join emits n-1 star pairs instead of C(n,2) —
        # the left side of a hot bucket is ONE row, which also removes the
        # skewed-key quadratic task that would straggle a real cluster.
        bstats = banded.groupBy("band", "bh").agg(
            F.count(F.lit(1)).alias("__bn"), F.min(id_col).alias("__bmin")
        )
        left = (
            banded.join(bstats, ["band", "bh"])
            .where(
                (F.col("__bn") <= F.lit(max_bucket))
                | (F.col(id_col) == F.col("__bmin"))
            )
            .select(id_col, "band", "bh")
        )
    else:
        left = banded
    cand = (
        left.alias("x")
        .join(banded.alias("y"), ["band", "bh"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )

    # exact-Jaccard verify ONLY the candidates; posting feeds both join
    # sides → cache for the same reuse reason as above
    posting = materialize(
        _shingle_posting(df, text_col, id_col, k, None),
        "minhash_posting", "cache",
    )
    sizes = posting.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = posting.select(F.col(id_col).alias("id_a"), "sh")
    b = posting.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        cand.join(a, "id_a")
        .join(b, ["id_b", "sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 6
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def simhash_fingerprints(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", bits: int = 32
) -> DataFrame:
    """(id, simhash bigint) fingerprints — token hashes aliased once,
    referenced ``bits`` times by the bit votes (same CollapseProject
    barrier rationale as minhash_signatures)."""
    base = spread_compute(df).select(
        F.col(id_col),
        hashing.shingle_hashes(ws_tokens(F.col(text_col))).alias("token_hashes"),
    )
    return base.select(
        F.col(id_col),
        hashing.simhash_from_base(F.col("token_hashes"), bits).alias("simhash"),
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 32,
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: candidates share at least one of
    ``n_bands`` byte-bands (pigeonhole: hamming ≤ n_bands-1 guarantees a
    shared band), verified with exact Hamming distance ≤ max_hamming.

    ``max_bucket`` (opt-in) applies the same star-pairing guardrail as
    :func:`minhash_lsh_pairs`: byte-band buckets bigger than the cap
    (boilerplate / duplicate clusters) pair only against the bucket
    min, keeping candidates O(n) per bucket. It defaults to ``None``
    because capping SACRIFICES the pigeonhole completeness guarantee
    inside oversized buckets — but SimHash byte-bands are especially
    collision-prone (an 8-bit band has only 256 values, so bucket size
    grows linearly with corpus size), so at corpus scale set a cap (or
    raise ``n_bands``/band width) or the self-join is infeasible.
    """
    fp = simhash_fingerprints(df, text_col, id_col, bits)
    return fingerprint_band_pairs(
        fp,
        fp_col="simhash",
        id_col=id_col,
        bits=bits,
        max_hamming=max_hamming,
        n_bands=n_bands,
        max_bucket=max_bucket,
    )


def fingerprint_band_pairs(
    fp: DataFrame,
    fp_col: str,
    id_col: str,
    bits: int,
    max_hamming: int,
    n_bands: int,
    max_bucket: int | None = None,
) -> DataFrame:
    """Generic Hamming near-dup pairing over ANY bigint fingerprint
    column (SimHash text fingerprints, perceptual image hashes, ...):
    band the fingerprint into ``n_bands`` equal bit-slices, self-join on
    shared (band, value) buckets (pigeonhole: hamming <= n_bands-1
    guarantees a shared band), verify with exact popcount Hamming.
    ``max_bucket`` opts into the star-pairing cap (see
    :func:`simhash_pairs` for the completeness trade-off).

    Output: (id_a, id_b, hamming) with id_a < id_b, hamming <= max.
    """
    width = bits // n_bands
    banded = fp.select(
        id_col,
        fp_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col(fp_col), i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("bh"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("bd"),
    ).select(id_col, fp_col, "bd.band", "bd.bh")
    if max_bucket is not None:
        banded = materialize(banded, "hamming_bands", "cache")
        bstats = banded.groupBy("band", "bh").agg(
            F.count(F.lit(1)).alias("__bn"), F.min(id_col).alias("__bmin")
        )
        left = (
            banded.join(bstats, ["band", "bh"])
            .where(
                (F.col("__bn") <= F.lit(max_bucket))
                | (F.col(id_col) == F.col("__bmin"))
            )
            .select(id_col, fp_col, "band", "bh")
        )
    else:
        left = banded
    x, y = left.alias("x"), banded.alias("y")
    return (
        x.join(y, ["band", "bh"])
        .where(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            hashing.hamming64(F.col(f"x.{fp_col}"), F.col(f"y.{fp_col}")).alias(
                "hamming"
            ),
        )
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


# One graph partition holds up to this many edges (the existing
# ~50k-edges-per-partition sizing shared by cluster_pairs and
# cluster_pairs_star). At or below it the whole component graph fits a
# SINGLE task, so the iterative machinery's per-round driver barriers
# (join + checkpoint + convergence check, each a scheduled job) buy
# nothing: one executor task computes exact components directly.
_ONE_TASK_EDGES = 50_000


def _components_one_task(
    pairs: DataFrame, *, drop_self_loops: bool
) -> DataFrame:
    """Exact connected components of an edge relation known to fit ONE
    graph partition, computed in a single executor task (union-find
    with union-by-min inside ``mapInPandas`` — the root of every tree
    is the component minimum, so find(x) IS the cluster id). This is
    the small-graph endgame of :func:`cluster_pairs` /
    :func:`cluster_pairs_star` (optimization round: each label-prop /
    star round costs a full driver barrier, ~0.3-0.5s of pure
    scheduling on a graph this size); the iterative algorithms engage
    beyond ``_ONE_TASK_EDGES``, where the graph genuinely needs
    distribution. Executor-side, no driver collect; output contract is
    identical ((doc_id, cluster_id = component min), nodes appearing in
    no pair absent; ``drop_self_loops`` mirrors cluster_pairs_star's
    u != v filter, while cluster_pairs keeps self-loop nodes as their
    own singleton components)."""
    import pandas as pd
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StructField,
        StructType,
    )

    id_type = pairs.schema["id_a"].dataType
    integral_ids = isinstance(
        id_type, (ByteType, ShortType, IntegerType, LongType)
    )
    out_schema = StructType(
        [
            StructField("doc_id", id_type),
            StructField("cluster_id", id_type),
        ]
    )

    def _uf(batches):
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:
                parent[x], x = r, parent[x]
            return r

        for pdf in batches:
            if integral_ids:
                # a nullable integral column arrives as float64 (any
                # null in the batch forces the cast), which is lossy
                # above 2^53 — a silently wrong cluster_id, and
                # union-by-min would compare corrupted values. Refuse
                # loudly; the iterative path (graph_partitions=N) is
                # exact for such ids. Two vectorized passes per batch.
                for cn in ("id_a", "id_b"):
                    s = pdf[cn]
                    # >= 2^53, not >: ints are uniquely representable
                    # in float64 only BELOW 2^53 — (2^53 + 1) rounds
                    # to exactly 2.0**53, so a batch value AT the
                    # bound may already be a corrupted neighbour
                    if s.dtype.kind == "f" and bool(
                        (s.abs() >= 2.0**53).fillna(False).any()
                    ):
                        raise ValueError(
                            "components one-task endgame: nullable "
                            f"integral id column {cn!r} carries values "
                            "above 2^53, which lose precision in the "
                            "float64 null representation — pass an "
                            "explicit graph_partitions to use the "
                            "exact iterative path"
                        )
            # null endpoints must be detected via the pandas mask: a
            # nullable long column arrives as float64 where null is
            # NaN, and NaN != NaN would spin find() forever if a NaN
            # ever became a dict key
            for u, v, u_null, v_null in zip(
                pdf["id_a"].tolist(),
                pdf["id_b"].tolist(),
                pdf["id_a"].isna().tolist(),
                pdf["id_b"].isna().tolist(),
            ):
                if u_null or v_null:
                    u = None if u_null else u
                    v = None if v_null else v
                    # mirror the iterative paths' null semantics: the
                    # star path's u != v SQL filter drops null pairs
                    # entirely; label propagation's equi-joins never
                    # match a null, so each non-null endpoint (and the
                    # null node itself) stays its own singleton
                    if not drop_self_loops:
                        parent.setdefault(u, u)
                        parent.setdefault(v, v)
                    continue
                if u == v:
                    if not drop_self_loops:
                        parent.setdefault(u, u)
                    continue
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    # union-by-min keeps every root the tree minimum
                    if rv < ru:
                        ru, rv = rv, ru
                    parent[rv] = ru
        if parent:
            nodes = list(parent)
            yield pd.DataFrame(
                {
                    "doc_id": nodes,
                    "cluster_id": [find(n) for n in nodes],
                }
            )

    return pairs.coalesce(1).mapInPandas(_uf, schema=out_schema)


def _graph_width(edges: DataFrame, graph_partitions: int | None) -> int:
    """Partitions for a connected-components loop: an explicit
    ``graph_partitions``, else ~``_ONE_TASK_EDGES`` edges each, at
    least 1 and at most the cluster's parallelism. Counting the
    materialized ``edges`` is one cheap job."""
    return graph_partitions or max(
        1,
        min(
            edges.sparkSession.sparkContext.defaultParallelism,
            edges.count() // _ONE_TASK_EDGES + 1,
        ),
    )


def cluster_pairs(
    pairs: DataFrame, max_iter: int = 20, graph_partitions: int | None = None
) -> DataFrame:
    """Connected components over near-dup pairs via iterative min-label
    propagation: every node starts labeled with itself; each round, each
    node adopts the minimum label among itself and its neighbours; stop
    at fixpoint. Converges in O(cluster diameter) rounds — near-dup
    clusters are shallow (usually ≤3 hops), so this is a handful of
    joins, each a shuffle on the node id.

    Input: (id_a, id_b) pairs (undirected). Output: (doc_id, cluster_id)
    where cluster_id = min doc id of the component. Documents not in any
    pair are absent (they are their own singleton cluster by definition).
    """
    # the graph is orders of magnitude smaller than the corpus, so the
    # rounds run on few partitions; the coalesce comes after the edge
    # dedup, which keeps full shuffle parallelism. The pairs are
    # computed once before the symmetrizing self-union, which would
    # otherwise run the pair generator once per branch.
    pairs = materialize(pairs.select("id_a", "id_b"), "cluster_pairs", "local")
    # small-graph endgame: a graph that fits one partition is solved in
    # ONE executor task; an explicit graph_partitions keeps the
    # iterative path (tests exercise its exhaustion semantics)
    if graph_partitions is None and pairs.count() <= _ONE_TASK_EDGES:
        return _components_one_task(pairs, drop_self_loops=False)
    edges = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .union(pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))
        .distinct(),
        "cluster_edges", "local",
    )
    n_graph = _graph_width(edges, graph_partitions)
    edges = edges.coalesce(n_graph)
    labels = materialize(
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("label", F.col("id")),
        "cluster_labels", "local",
    ).coalesce(n_graph)
    from pyspark.sql import Observation

    for i in range(max_iter):
        neighbour_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        # convergence detection rides the SAME job that materializes the
        # checkpoint (Observation metrics are collected during it) — the
        # old separate join+count was one extra Spark job per round
        obs = Observation(f"cluster_round_{i}")
        labels = materialize(
            labels.join(neighbour_min, labels.id == neighbour_min.src, "left")
            .select(
                "id",
                F.col("label").alias("old_label"),
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .observe(
                obs,
                F.sum((F.col("label") != F.col("old_label")).cast("long")).alias(
                    "n_changed"
                ),
            )
            .select("id", "label")
            .coalesce(n_graph),
            "cluster_round", "local",
        )
        if (obs.get["n_changed"] or 0) == 0:
            break
    else:
        # exhausted max_iter without a fixpoint: labels are an
        # under-merged approximation — surface it rather than silently
        # splitting one component into several "canonical" docs
        import warnings

        warnings.warn(
            f"cluster_pairs did not converge within {max_iter} iterations; "
            "components deeper than max_iter hops carry split labels — "
            "raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def cluster_pairs_star(
    pairs: DataFrame, max_iter: int = 12, graph_partitions: int | None = None
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — the O(log n)-round alternative to
    :func:`cluster_pairs`' min-label propagation, whose round count is
    the component DIAMETER.

    Per round over the symmetric adjacency: large-star connects every
    strictly-larger neighbor of u to m = min(Γ(u) ∪ {u}); small-star
    connects u and its ≤-neighbors to the minimum of that set. Both are
    one groupBy-min plus one join on node ids; each round at most
    doubles progress toward stars, so chains that would under-merge
    label propagation at max_iter (a 200-node path needs 199
    propagation rounds) converge here in ~log2(n) rounds. Same output
    contract as cluster_pairs: (doc_id, cluster_id = component min),
    nodes appearing in no pair absent.

    Scale shape: the edge relation never grows beyond the input edge
    count (large-star emits ≤1 edge per adjacency entry, small-star
    contracts), every shuffle is keyed on a node id, and per-round
    lineage is truncated by a ``local`` materialization exactly like
    cluster_pairs. Convergence is detected by an empty
    ``exceptAll`` between consecutive star-edge sets (node-scale
    relation, cheap); exhausting ``max_iter`` warns rather than
    silently splitting components.
    """
    import warnings

    pairs = materialize(
        pairs.select("id_a", "id_b"), "cluster_star_pairs", "local"
    )
    # same small-graph endgame as cluster_pairs; star's u != v filter
    # is mirrored by drop_self_loops
    if graph_partitions is None and pairs.count() <= _ONE_TASK_EDGES:
        return _components_one_task(pairs, drop_self_loops=True)
    edges = materialize(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .distinct(),
        "cluster_star_edges", "local",
    )
    n_graph = _graph_width(edges, graph_partitions)
    edges = edges.coalesce(n_graph)

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).distinct()

    converged = False
    for _ in range(max_iter):
        adj = _sym(edges)
        # large-star: m = min over Γ(u) ∪ {u}; (v, m) for v > u
        m_all = adj.groupBy("u").agg(
            F.least(F.first("u"), F.min("v")).alias("m")
        )
        large = (
            adj.join(m_all, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star over the large result: m = min over Γ≤(u) ∪ {u};
        # (x, m) for x ∈ Γ≤(u) ∪ {u}, x ≠ m
        adj2 = _sym(large)
        le = adj2.where(F.col("v") <= F.col("u"))
        m_le = le.groupBy("u").agg(
            F.least(F.first("u"), F.min("v")).alias("m")
        )
        small = materialize(
            le.join(m_le, "u")
            .select(
                F.explode(
                    F.array(F.col("v"), F.col("u"))
                ).alias("x"),
                F.col("m"),
            )
            .where(F.col("x") != F.col("m"))
            .select(F.col("x").alias("u"), F.col("m").alias("v"))
            .distinct()
            .coalesce(n_graph),
            "cluster_star_round", "local",
        )
        if small.exceptAll(edges).isEmpty() and edges.exceptAll(small).isEmpty():
            edges = small
            converged = True
            break
        edges = small
    if not converged:
        warnings.warn(
            f"cluster_pairs_star did not converge within {max_iter} "
            "rounds; labels may be under-merged — raise max_iter",
            RuntimeWarning,
            stacklevel=2,
        )
    # One-label contract on EVERY exit path: on exhaustion the edge set
    # need not be a star forest — a node can hold multiple out-edges
    # (multiple labels) or sit mid-chain (member AND apparent root).
    # Three structural steps make the output exactly one
    # (doc_id, cluster_id) row per node regardless:
    #   1. the node UNIVERSE comes from the pre-collapse edge set (a
    #      collapse that deletes a node's last incident edge must not
    #      delete the node from the output);
    #   2. multi-out-edge nodes collapse to their minimum target (a
    #      no-op on a converged star forest);
    #   3. roots = universe minus member sources, self-labeled (so a
    #      chained node never also self-labels).
    nodes = (
        edges.select("u")
        .unionByName(edges.select(F.col("v").alias("u")))
        .distinct()
    )
    one_out = edges.groupBy("u").agg(F.min("v").alias("v"))
    members = one_out.select(
        F.col("u").alias("doc_id"), F.col("v").alias("cluster_id")
    )
    roots = (
        nodes.join(one_out.select("u"), "u", "left_anti")
        .select(F.col("u").alias("doc_id"))
        .select("doc_id", F.col("doc_id").alias("cluster_id"))
    )
    return members.unionByName(roots)


def dedup_by_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Keep one canonical document (min id) per near-dup cluster: cluster
    the pairs, then anti-join the non-canonical members away. Documents
    in no pair survive untouched."""
    clusters = cluster_pairs(pairs)
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def _salt_block(
    df: DataFrame, block_col: str, id_col: str, max_block: int
) -> DataFrame:
    """Append a deterministic ``__salt`` column splitting any block with
    more than ``max_block`` rows into ceil(n/max_block) shards: salt =
    stable_hash64(id) % n_shards. Pairs are then generated within
    (block, salt) only, so per-key candidate volume is bounded at
    O(max_block²) regardless of block skew. The recall trade (cross-
    shard pairs inside an oversized block are not compared) is the
    documented price of bounding the quadratic; salts are md5-derived,
    so a DuckDB oracle replays the sharding exactly."""
    counts = df.groupBy(block_col).agg(F.count(F.lit(1)).alias("__bn"))
    return (
        df.join(counts, block_col)
        .withColumn(
            "__salt",
            hashing.stable_hash64(F.col(id_col).cast("string"))
            % F.ceil(F.col("__bn") / F.lit(max_block)).cast("bigint"),
        )
        .drop("__bn")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str | None = None,
    threshold: float = 0.95,
    max_block: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs.

    With ``block_col`` (cluster/label/LSH bucket) the join is equi on the
    block — each block's pairs compute locally after one shuffle. Without
    it this is a cartesian product: correct, but only acceptable for
    small n (the brute-force baseline). ``max_block`` salt-shards
    oversized blocks (see :func:`_salt_block`) so a skewed block key
    can't go quadratic.
    """
    if block_col is not None and max_block is not None:
        df = _salt_block(df, block_col, id_col, max_block)
        block_cols = [block_col, "__salt"]
    else:
        block_cols = [block_col] if block_col else []
    # Norms are projected BEFORE the join: the join shuffle is a barrier,
    # so each side's norm folds once per input row instead of once per
    # PAIR — per-pair work is then a single dot + divide (3× fewer array
    # folds; same double expression sqrt(dot(v,v)) as the oracle).
    a = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
        vectors.norm(F.col(vec_col)).alias("na"),
    )
    b = df.select(
        *[F.col(c) for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
        vectors.norm(F.col(vec_col)).alias("nb"),
    )
    joined = a.join(b, on=block_cols) if block_cols else a.crossJoin(b)
    return (
        joined.where(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(
                vectors.dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def embedding_near_dup_pairs_vectorized(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    block_col: str = "label",
    threshold: float = 0.95,
    max_block: int | None = None,
) -> DataFrame:
    """Arrow-vectorized twin of :func:`embedding_near_dup_pairs`
    (blocked form): one shuffle on the block key, then each block
    computes its full cosine matrix with a single BLAS matmul inside
    ``applyInPandas`` and emits only the upper-triangle pairs at or
    above the threshold — the O(block²) candidate rows never exist as
    Spark rows (see similarity.all_pairs_topk_vectorized for the top-k
    sibling and the block-size memory bound). Similarities are rounded
    to 6dp BEFORE thresholding, the same contract as the JVM twin, so
    both emit the identical pair set."""
    import numpy as np
    import pandas as pd

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col)
        n = len(pdf)
        empty = pd.DataFrame(
            {
                "id_a": pd.Series([], dtype="int64"),
                "id_b": pd.Series([], dtype="int64"),
                "cos_sim": pd.Series([], dtype="float64"),
            }
        )
        if n < 2:
            return empty
        ids = pdf[id_col].to_numpy(dtype="int64")
        mat = np.stack(
            pdf[vec_col].apply(lambda v: np.asarray(v, dtype=np.float64))
        )
        norms = np.linalg.norm(mat, axis=1)
        sims = np.round((mat @ mat.T) / np.outer(norms, norms), 6)
        iu, ju = np.triu_indices(n, k=1)
        keep = sims[iu, ju] >= threshold
        if not keep.any():
            return empty
        return pd.DataFrame(
            {
                "id_a": ids[iu[keep]],
                "id_b": ids[ju[keep]],
                "cos_sim": sims[iu[keep], ju[keep]],
            }
        )

    if max_block is not None:
        # Salt-shard oversized blocks BEFORE the groupBy shuffle: bounds
        # both the O(block²) BLAS matrix and the per-group Arrow batch
        # an executor must hold (the memory bound, not just the compute
        # bound). Same deterministic salt as the JVM twin, so the
        # equivalence test covers the capped path too.
        df = _salt_block(df, block_col, id_col, max_block)
        return (
            df.select(block_col, "__salt", id_col, vec_col)
            .groupBy(block_col, "__salt")
            .applyInPandas(
                block_pairs, schema="id_a bigint, id_b bigint, cos_sim double"
            )
        )
    return (
        df.select(block_col, id_col, vec_col)
        .groupBy(block_col)
        .applyInPandas(block_pairs, schema="id_a bigint, id_b bigint, cos_sim double")
    )


def repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    w: int = 8,
    min_docs: int = 2,
    top_k: int = 100,
    sample_mod: int = 1,
) -> DataFrame:
    """Cross-document repeated-span detection — the substring-level
    dedup family (public "exact substring deduplication" of Lee et al.,
    "Deduplicating Training Data Makes Language Models Better", 2022):
    surface ``w``-token windows recurring across >= ``min_docs``
    documents — the signature of boilerplate (licence headers,
    navigation chrome, templated intros) that document-level dedup
    cannot collapse because the surrounding text differs.

    Scale shape: posexplode the w-token windows (linear in tokens),
    hash each span to the portable 60-bit digest, aggregate per digest
    (occurrences, distinct docs, packed argmin exemplar), keep
    cross-document spans, TakeOrderedAndProject the top_k — and only
    THEN recover span text, by re-slicing the top_k exemplar documents
    through a broadcast join. Span strings never enter the wide
    shuffle: per-window shuffle payload is (id, pos, 8-byte hash)
    regardless of w. The exemplar is the lexicographic min (doc, pos),
    packed into one BIGINT as doc*2^20+pos so both engines take an
    exact integer min (assumes positions < 2^20 and ids < 2^43;
    pre-chunk longer token streams).

    ``sample_mod`` is the corpus-scale lever: keep only windows whose
    content hash satisfies ``h % sample_mod == 0`` — CONTENT-defined
    sampling, so the same window text is kept or dropped consistently
    in every document (positional striding would sample different
    offsets per document and never match). Shuffle volume drops by
    ~sample_mod; detection becomes probabilistic per window but a
    repeated region of length L >> w still contains a selected window
    with probability ~1 - (1 - 1/sample_mod)^(L-w+1). ``n_occ``/
    ``n_docs`` for surviving spans are EXACT (the filter is a function
    of the span content). Default 1 = exhaustive.

    Output: (span, n_docs, n_occ, first_doc, first_pos), pos 1-based,
    ordered by (n_occ desc, first_doc, first_pos) — a total order, so
    the top_k cut is deterministic and oracle-stable.
    """
    pos_bits = 1 << 20
    toks = F.transform(ws_tokens(F.col(text_col)), lambda x: F.lower(x))
    windows = (
        spread_compute(df.where(F.col(text_col).isNotNull()))
        .where(F.size(ws_tokens(F.col(text_col))) >= w)
        .select(
            F.col(id_col),
            F.posexplode(word_shingles(toks, w)).alias("pos0", "span"),
        )
    )
    hashed = windows.select(
        F.col(id_col),
        (F.col("pos0") + 1).alias("pos"),
        hashing.stable_hash64(F.col("span")).alias("sh"),
    )
    if sample_mod > 1:
        hashed = hashed.where(F.pmod(F.col("sh"), F.lit(sample_mod)) == 0)
    packed = F.col(id_col) * F.lit(pos_bits) + F.col("pos")
    spans = (
        hashed.groupBy("sh")
        .agg(
            F.countDistinct(id_col).cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
            F.min(packed).alias("fk"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.col("n_occ").desc(), F.col("sh").asc())
        .limit(top_k)
    )
    exemplar_toks = F.transform(ws_tokens(F.col("__t")), lambda x: F.lower(x))
    docs = df.select(F.col(id_col).alias("__d"), F.col(text_col).alias("__t"))
    return (
        docs.join(
            F.broadcast(spans), F.col("__d") == F.expr(f"fk DIV {pos_bits}")
        )
        .select(
            F.concat_ws(
                " ", F.slice(exemplar_toks, F.pmod(F.col("fk"), F.lit(pos_bits)), w)
            ).alias("span"),
            "n_docs",
            "n_occ",
            F.expr(f"fk DIV {pos_bits}").alias("first_doc"),
            F.pmod(F.col("fk"), F.lit(pos_bits)).alias("first_pos"),
        )
        .orderBy(F.col("n_occ").desc(), "first_doc", "first_pos")
    )


def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = 64,
) -> DataFrame:
    """ASYMMETRIC containment near-dup pairs (Broder's containment,
    the counterpart of resemblance/Jaccard): C = |A∩B| / |smaller set|.
    Symmetric Jaccard under-scores a short document wholly quoted
    inside a much longer one (|∩|/|∪| shrinks with the big doc);
    containment flags it at ~1.0 — the signal for quote/excerpt
    duplication that pretraining dedup needs alongside resemblance.

    Same inverted-index shape (and df cap) as
    :func:`ngram_jaccard_pairs`; only the normalizer differs. For
    duplicate-heavy corpora apply the exact-dedup staging of the
    Jaccard operator first — containment is content-determined, so the
    member-expansion argument carries over unchanged.

    Output: (id_inner, id_outer, containment) where inner is the doc
    with the smaller post-cap shingle set (ties: the lower id), and
    containment = |∩| / |inner| rounded 6dp, >= threshold.
    """
    posting = materialize(
        _shingle_posting(df, text_col, id_col, k, max_df),
        "containment_posting", "cache",
    )
    sizes = posting.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = posting.select(F.col(id_col).alias("id_a"), "sh")
    b = posting.select(F.col(id_col).alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("nc"))
    )
    j = common.join(
        sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na")),
        "id_a",
    ).join(
        sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb")),
        "id_b",
    )
    inner_first = F.col("na") <= F.col("nb")
    containment = F.round(
        F.col("nc") / F.least("na", "nb").cast("double"), 6
    )
    return (
        j.select(
            F.when(inner_first, F.col("id_a")).otherwise(F.col("id_b")).alias(
                "id_inner"
            ),
            F.when(inner_first, F.col("id_b")).otherwise(F.col("id_a")).alias(
                "id_outer"
            ),
            containment.alias("containment"),
        )
        .where(F.col("containment") >= threshold)
    )
