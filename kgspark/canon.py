"""Canonicalization: merge surface forms of the same real-world entity.

The reference's only cross-doc linking idea is a commented-out ANN prototype
(runtime/src/examples/deduplication.rs:109-163: embedding top-5, distance <
0.5, skip self/exact).  Here it becomes a real, fully-distributed stage:

  1. candidate pairs  — three generators, unioned:
       a. exact-normalized-key pairs (punctuation/case-insensitive equality);
       b. MinHash-LSH over character 3-gram shingles of the normalized name
          (the blocking step — O(n·bucket), never O(n²)), verified with exact
          Jaccard >= threshold;
       c. broadcast alias-dictionary edges (name -> canonical display name).
  2. connected components — iterative hash-min label propagation over the
     undirected pair graph (a driver loop in a session.LoopScope: no AQE
     re-planning, exchanges sized to the pair graph, one join + agg per
     round, the convergence count observed by the round's lineage cut, the
     per-round cuts released on return).  Rounds grow with the pair graph's
     diameter.  Closed-vocabulary alias graphs are near-stars and converge
     in a few rounds, but open-vocabulary names chain through LSH and
     exact-key pairs: on 19,981 seeded open-vocabulary names the largest
     component (169 names) has a member 17 hops from its minimum, past the
     15-round cap.  The cap raises instead of returning unconverged labels.
  3. canonical representative — per component, the alias dictionary's
     canonical name when one is present, else the lexicographically smallest
     member (deterministic; the reference has no tie rule at all).
  4. rewrite — triples/entities join the canonical map on name.  The map is
     names-only (orders of magnitude smaller than the triple table), so the
     rewrite is a broadcast join when it fits and an AQE skew-safe shuffle
     join otherwise — head-entity skew (one name in billions of triples)
     never concentrates on one reducer because the build side is broadcast.

Pair generation dedups by unordered pair; all name comparisons use the
normalized key so 'I.B.M.' == 'IBM' exactly and 'Acme Corporation' ~ 'Acme
Corp' via Jaccard.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from . import ids, spec
from .session import LineageScope, LoopScope, graph_parts
from .textops import MINHASH_P, minhash_perm_coeffs

LSH_K = 8            # minhash permutations over char 3-grams
LSH_BAND_ROWS = 2    # 4 bands of 2 — recall-leaning for short strings
JACCARD_THRESHOLD = 0.5
CHAR_NGRAM = 3


def norm_key(c: Column) -> Column:
    """lower → strip non-alphanumeric (keep spaces) → collapse spaces → trim."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(c), "[^a-z0-9 ]", ""), " +", " "
        )
    )


def _shingle_expr(c: Column, n: int = CHAR_NGRAM) -> Column:
    """Distinct character n-grams of a (normalized) name; whole name if short.

    Dynamic start positions need Column-typed ``substr``, not ``F.substring``.
    """
    return F.when(F.length(c) <= n, F.array(c)).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(c) - n + 1),
                lambda i: c.substr(i, F.lit(n)),
            )
        )
    )


def _hash60(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def distinct_names(entity_table: DataFrame, name_col: str = "entity_name") -> DataFrame:
    """(name, nkey) — the working set for canonicalization (names only)."""
    return (
        entity_table.select(F.col(name_col).alias("name"))
        .distinct()
        .withColumn("nkey", norm_key(F.col("name")))
        .filter(F.length("nkey") > 0)
    )


def exact_key_pairs(names: DataFrame) -> DataFrame:
    """Names sharing the same normalized key (punctuation/case variants)."""
    a = names.select(F.col("name").alias("name_a"), "nkey")
    b = names.select(F.col("name").alias("name_b"), "nkey")
    return (
        a.join(b, "nkey")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
    )


def _with_bands(
    names: DataFrame, k: int = LSH_K, band_rows: int = LSH_BAND_ROWS
) -> DataFrame:
    """(name, shingles, band_key) — one row per LSH band of each name.

    hash each shingle ONCE into the 31-bit universe, then k cheap affine
    permutations (a_j*h + b_j) mod 2^31-1 — k md5 calls per shingle -> 1
    (same universal-hashing scheme as textops.minhash_signatures; the
    driver-side mirror in web_oracles._band_keys uses identical constants).
    """
    sh = names.withColumn("shingles", _shingle_expr(F.col("nkey")))
    sh = sh.withColumn(
        "_hs", F.transform("shingles", lambda s: _hash60(s) % F.lit(MINHASH_P))
    )

    def _perm(j: int):
        a, b = minhash_perm_coeffs(j)
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MINHASH_P)

    sig_cols = [
        F.array_min(F.transform("_hs", _perm(j))).alias(f"mh{j}")
        for j in range(k)
    ]
    sig = sh.select("name", "shingles", *sig_cols)
    n_bands = k // band_rows
    bands = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(b),
                *[F.col(f"mh{b * band_rows + r}") for r in range(band_rows)],
            )
            for b in range(n_bands)
        ]
    )
    return sig.select("name", "shingles", F.explode(bands).alias("band_key"))


def name_bands(names: DataFrame) -> DataFrame:
    """(name, band_key) — the persistable LSH-bucket state that lets later
    batches probe NEW names into existing buckets without re-shingling the
    whole corpus (see :func:`incremental_update`)."""
    return _with_bands(names).select("name", "band_key")


def lsh_pairs(
    names: DataFrame,
    k: int = LSH_K,
    band_rows: int = LSH_BAND_ROWS,
    threshold: float = JACCARD_THRESHOLD,
) -> DataFrame:
    """MinHash-LSH candidate pairs over char-shingles, Jaccard-verified.

    Narrow signature computation → explode band keys → bucket self-join
    (shuffle on band hash only) → exact Jaccard on the candidate pairs.
    """
    banded = _with_bands(names, k, band_rows)
    # One shared exchange for both self-join branches (ReuseExchange): the
    # shingle/signature pipeline computes once, and the bucket join is
    # co-partitioned on the band key.
    banded = banded.repartition("band_key")
    l = banded.select(
        F.col("name").alias("name_a"), F.col("shingles").alias("sh_a"), "band_key"
    )
    r = banded.select(
        F.col("name").alias("name_b"), F.col("shingles").alias("sh_b"), "band_key"
    )
    cand = (
        l.join(r, "band_key")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b", "sh_a", "sh_b")
        .distinct()
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return cand.filter(jac >= threshold).select("name_a", "name_b")


def alias_edges(spark: SparkSession, names: DataFrame) -> DataFrame:
    """Broadcast alias-dict edges: corpus name ↔ canonical display name."""
    alias_df = spark.createDataFrame(
        spec.web_alias_rows(), schema="alias string, canonical_name string"
    )
    hits = names.join(
        F.broadcast(alias_df), names["nkey"] == alias_df["alias"], "inner"
    )
    return hits.filter(F.col("name") != F.col("canonical_name")).select(
        F.least("name", "canonical_name").alias("name_a"),
        F.greatest("name", "canonical_name").alias("name_b"),
    )


def connected_components(pairs: DataFrame, max_iter: int = 15) -> DataFrame:
    """Hash-min label propagation over the undirected graph of
    (name_a, name_b) pairs: (node, comp, moved) with comp = the component's
    minimum node.  ``moved`` flags a label the last round lowered, so it is
    false on every returned row.

    Runs in a :class:`~kgspark.session.LoopScope`: no AQE re-planning, and
    every exchange is sized to the pair graph
    (:func:`~kgspark.session.graph_parts` of the pair count, which the cut of
    the pairs observes).  Per round one shuffle (neighbour labels onto their
    source), one aggregation and one lineage cut; the cut observes how many
    labels moved, so the convergence check needs no job of its own.  Only
    the returned frame stays persisted.  Converges in O(diameter) rounds;
    raises if the cap is hit with labels still moving.
    """
    spark = pairs.sparkSession
    with LoopScope(spark) as ls:
        pairs, n = ls.cut(pairs.select("name_a", "name_b"), observe=F.count(F.lit(1)))
        nparts = graph_parts(spark, n)
        e = ls.cut(
            pairs.select(F.col("name_a").alias("src"), F.col("name_b").alias("dst"))
            .union(
                pairs.select(F.col("name_b").alias("src"), F.col("name_a").alias("dst"))
            )
            .distinct()
            .repartition(nparts, "dst")
        )
        comp = ls.cut(
            e.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("comp", F.col("node"))
            .repartition(nparts, "node")
        )
        for _ in range(max_iter):
            nbr_min = (
                e.join(comp, e["dst"] == comp["node"])
                .select("src", "comp")
                .repartition(nparts, "src")
                .groupBy("src")
                .agg(F.min("comp").alias("nbr_comp"))
            )
            comp, moved = ls.cut(
                comp.join(nbr_min, comp["node"] == nbr_min["src"], "left").select(
                    "node",
                    F.least(
                        F.col("comp"), F.coalesce("nbr_comp", F.col("comp"))
                    ).alias("comp"),
                    F.coalesce(F.col("nbr_comp") < F.col("comp"), F.lit(False))
                    .alias("moved"),
                ),
                observe=F.count_if(F.col("moved")),
            )
            if moved == 0:
                return ls.result(comp)
    raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")


def _rep_map(spark: SparkSession, comp: DataFrame, names: DataFrame) -> DataFrame:
    """(entity_name → canonical_name) for every CC node: the alias
    dictionary's canonical name when a member has one, else the
    lexicographically smallest member.  ``names`` supplies (name, nkey) for
    corpus names; non-corpus nodes (alias display names) join as members
    with no alias key — exactly the full-recompute semantics."""
    alias_df = spark.createDataFrame(
        spec.web_alias_rows(), schema="alias string, canonical_name string"
    )
    member_canon = (
        comp.join(names, comp["node"] == names["name"], "left")
        .join(F.broadcast(alias_df), names["nkey"] == alias_df["alias"], "left")
        .groupBy("comp")
        .agg(
            F.min(F.col("canonical_name")).alias("alias_canon"),
            F.min("node").alias("min_member"),
        )
        .select(
            "comp",
            F.coalesce("alias_canon", "min_member").alias("canonical_name"),
        )
    )
    return comp.join(member_canon, "comp").select(
        F.col("node").alias("entity_name"), "canonical_name"
    )


def canonical_map(
    spark: SparkSession,
    entity_table: DataFrame | None = None,
    name_col: str = "entity_name",
    names: DataFrame | None = None,
) -> DataFrame:
    """(entity_name → canonical_name, canonical_id) for every distinct name.

    Singleton names (no pair edges) canonicalize to themselves; components
    take the alias dictionary's canonical name when a member has one, else
    the lexicographically smallest member.  Source is EITHER an entity
    table (names derived here) OR a precomputed ``names`` frame — a caller
    that also needs the distinct-name working set (the warehouse full
    rebuild holds it for the canon_names/canon_bands state writes)
    passes ``names`` alone and shares ONE entity-table scan.

    Runs in one :class:`~kgspark.session.LineageScope`: the returned map is
    a cut, and the component labels it was built from are released when
    the call returns.
    """
    if (entity_table is None) == (names is None):
        raise ValueError("pass exactly one of entity_table / names")
    if names is None:
        names = distinct_names(entity_table, name_col)
    pairs = (
        exact_key_pairs(names)
        .union(lsh_pairs(names))
        .union(alias_edges(spark, names))
        .distinct()
    )
    with LineageScope() as ls:
        comp = ls.adopt(connected_components(pairs))
        mapped = _rep_map(spark, comp, names)
        # Singletons: names not in any component map to themselves.
        singles = names.join(
            comp, names["name"] == comp["node"], "left_anti"
        ).select(
            F.col("name").alias("entity_name"),
            F.col("name").alias("canonical_name"),
        )
        out = mapped.union(singles)
        return ls.result(
            out.withColumn("canonical_id", ids.canonical_id(F.col("canonical_name")))
        )


def _jaccard_verified(cand: DataFrame, threshold: float = JACCARD_THRESHOLD) -> DataFrame:
    """Exact char-shingle Jaccard over (name_a, name_b) candidates —
    shingles re-derived narrowly per side (no corpus scan)."""
    sh_a = _shingle_expr(norm_key(F.col("name_a")))
    sh_b = _shingle_expr(norm_key(F.col("name_b")))
    jac = F.size(F.array_intersect(sh_a, sh_b)) / F.size(F.array_union(sh_a, sh_b))
    return cand.filter(jac >= threshold).select("name_a", "name_b")


def incremental_update(
    spark: SparkSession,
    batch_entity_table: DataFrame,
    old_map: DataFrame,
    old_names: DataFrame,
    old_bands: DataFrame,
    ls: LineageScope,
    name_col: str = "entity_name",
) -> dict:
    """Delta canonicalization: pair edges are generated ONLY for names the
    stored state has never seen, and connected components runs over those
    delta edges plus star edges of the affected old components — per-batch
    cost tracks NEW-name count, not total corpus names.

    Inputs: ``old_map`` (entity_name, canonical_name[, canonical_id]) — the
    committed map; ``old_names`` (name, nkey) — every corpus name previous
    batches canonicalized; ``old_bands`` (name, band_key) — their LSH
    buckets.  Old names can never gain new pairs among themselves (the pair
    generators are deterministic functions of the name set), so the full
    pair space splits as pairs(old×old) [already folded into ``old_map``]
    ∪ pairs(new×all) [generated here].  Old components enter CC as stars
    around their canonical label — connectivity-equivalent to their original
    edge sets — so bridges through new names merge them exactly as a full
    recompute would, and representative selection re-runs over the complete
    affected membership (a new lexicographically-smaller member can take
    over as canonical rep).

    Returns ``{"map": full updated map, "new_names": (name, nkey) delta,
    "bands_new": (name, band_key) delta, "changed": bool (any OLD member
    relabeled — old triples need a canonical rewrite only then),
    "n_new": int}``.  The frames are held in ``ls``, the caller's scope
    (one ``run_pipeline`` batch), so they stay readable until it exits and
    are released with it.
    """
    new_names = ls.hold(
        distinct_names(batch_entity_table, name_col)
        .join(old_names.select("name"), "name", "left_anti")
    )
    bands_new = ls.hold(name_bands(new_names))
    n_new = new_names.count()
    old_map = old_map.select("entity_name", "canonical_name")
    if n_new == 0:
        out = old_map.withColumn(
            "canonical_id", ids.canonical_id(F.col("canonical_name"))
        )
        return {
            "map": out,
            "new_names": new_names,
            "bands_new": bands_new,
            "changed": False,
            "n_new": 0,
        }

    all_names = old_names.select("name", "nkey").union(
        new_names.select("name", "nkey")
    )
    all_bands = old_bands.select("name", "band_key").union(bands_new)

    # LSH: probe new names into every bucket (old state + this delta) —
    # the join shuffles the tiny new side; the stored bucket table is a
    # narrow names-only scan, never re-shingled.
    lsh_cand = (
        bands_new.alias("n")
        .join(all_bands.alias("o"), "band_key")
        .filter(F.col("n.name") != F.col("o.name"))
        .select(
            F.least(F.col("n.name"), F.col("o.name")).alias("name_a"),
            F.greatest(F.col("n.name"), F.col("o.name")).alias("name_b"),
        )
        .distinct()
    )
    lsh_edges = _jaccard_verified(lsh_cand)

    ek = (
        new_names.alias("n")
        .join(all_names.alias("a"), "nkey")
        .filter(F.col("n.name") != F.col("a.name"))
        .select(
            F.least(F.col("n.name"), F.col("a.name")).alias("name_a"),
            F.greatest(F.col("n.name"), F.col("a.name")).alias("name_b"),
        )
        .distinct()
    )
    edges = ek.union(lsh_edges).union(alias_edges(spark, new_names)).distinct()

    # Affected old components: any old node touched by a delta edge pulls in
    # its WHOLE component (the rep can change) as a star around its label.
    # A new corpus name that already exists in the map as a non-corpus node
    # (an alias display name) also touches its component: as a corpus name
    # it now joins the alias dictionary during rep selection.
    touched = (
        edges.select(F.col("name_a").alias("node"))
        .union(edges.select(F.col("name_b").alias("node")))
        .union(new_names.select(F.col("name").alias("node")))
        .distinct()
    )
    affected_labels = (
        old_map.join(touched, old_map["entity_name"] == touched["node"], "left_semi")
        .select("canonical_name")
        .distinct()
    )
    affected = old_map.join(affected_labels, "canonical_name", "left_semi")
    star = affected.filter(F.col("entity_name") != F.col("canonical_name")).select(
        F.least("entity_name", "canonical_name").alias("name_a"),
        F.greatest("entity_name", "canonical_name").alias("name_b"),
    )
    comp = ls.adopt(connected_components(edges.union(star).distinct()))

    relabeled = _rep_map(spark, comp, all_names)
    # New singletons map to themselves — minus names the old map already
    # carries as display nodes (their committed row survives in unaffected;
    # a second self-row would duplicate the key).
    singles = (
        new_names.join(comp, new_names["name"] == comp["node"], "left_anti")
        .join(
            old_map,
            new_names["name"] == old_map["entity_name"],
            "left_anti",
        )
        .select(
            F.col("name").alias("entity_name"),
            F.col("name").alias("canonical_name"),
        )
    )
    unaffected = old_map.join(
        comp, old_map["entity_name"] == comp["node"], "left_anti"
    )
    updated = unaffected.union(relabeled).union(singles).withColumn(
        "canonical_id", ids.canonical_id(F.col("canonical_name"))
    )

    _, n_changed = ls.cut(
        relabeled.alias("r")
        .join(old_map.alias("o"), "entity_name")
        .filter(F.col("r.canonical_name") != F.col("o.canonical_name")),
        observe=F.count(F.lit(1)),
    )
    return {
        "map": updated,
        "new_names": new_names,
        "bands_new": bands_new,
        "changed": n_changed > 0,
        "n_new": int(n_new),
    }


def canonical_triples(triples: DataFrame, cmap: DataFrame) -> DataFrame:
    """Rewrite triple subjects/objects through the canonical map.

    The map is broadcast (names-only — tiny vs the triple table), so the
    rewrite adds zero shuffles and head-entity skew is a non-issue.
    """
    s = F.broadcast(
        cmap.select(
            F.col("entity_name").alias("subj"),
            F.col("canonical_name").alias("canon_subj"),
        )
    )
    o = F.broadcast(
        cmap.select(
            F.col("entity_name").alias("obj"),
            F.col("canonical_name").alias("canon_obj"),
        )
    )
    return (
        triples.join(s, "subj", "left")
        .join(o, "obj", "left")
        .select(
            F.coalesce("canon_subj", F.col("subj")).alias("subj"),
            F.col("pred"),
            F.coalesce("canon_obj", F.col("obj")).alias("obj"),
            "doc_id",
        )
        .distinct()
    )
