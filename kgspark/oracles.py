"""DuckDB oracle SQL — independent ANSI-SQL restatement of every operator.

Each string here re-derives an operator's semantics from the raw parquet
views (documents / embeddings / events ...) using only DuckDB SQL, with NO
shared code with the Spark implementations — the Spark side uses Catalyst
higher-order functions / pandas UDFs, the oracle uses unnest + windows.
Column names and integer/double types are aligned exactly (the driver's
compare hashes values after sorting columns by name).

Engine-portable hash primitives shared by both sides:
  * sha256 hex        — Spark ``sha2(x,256)``  = DuckDB ``sha256(x)``
  * 60-bit int hash   — Spark ``conv(substr(md5(x),1,15),16,10)::long``
                      = DuckDB ``CAST('0x' || substr(md5(x),1,15) AS BIGINT)``
"""

from __future__ import annotations

from . import spec
from .textops import (
    EN_STOPWORDS,
    LSH_BAND_ROWS,
    MINHASH_K,
    MINHASH_P,
    PII_PATTERNS,
    REPETITION_NS,
    minhash_perm_coeffs,
)

# ---------------------------------------------------------------- fragments

# Tokenized documents with content-addressed doc identity.
TOK = """
tok AS (
  SELECT 'doc-' || sha256(trim(text)) AS kg_doc_id,
         doc_id AS src_row,
         trim(text) AS ttext,
         length(text) AS raw_chars,
         string_split_regex(trim(text), '\\s+') AS toks
  FROM documents
  WHERE length(trim(text)) > 0
)
""".strip()
# src_row (the unique source key) exists so window formulations can mirror
# Spark's PER-ROW array semantics: duplicate raw rows share a
# content-addressed kg_doc_id, and a window partitioned on kg_doc_id alone
# would interleave the copies' positions (caught by the sf0.1 slow gate —
# the engines diverged exactly on the 8 duplicated docs there).  Operators
# are per-row by contract; content-level dedup is the pipeline's A4/J1 job.

# Vocabulary-matched mentions (zipped unnest gives 0-based positions).
_M = """
m AS (
  SELECT kg_doc_id, src_row, toks,
         unnest(toks) AS surface,
         unnest(range(len(toks))) AS pos
  FROM tok
),
mv AS (
  SELECT m.kg_doc_id, m.src_row, m.toks, m.pos, m.surface, vocab.name, vocab.entity_type
  FROM m JOIN {vocab} ON m.surface = vocab.surface
)
""".strip().format(vocab=spec.vocab_values_sql())

# Relation pairs: adjacent mentions, gap <= MAX_GAP, differing names.
_REL = f"""
pr AS (
  SELECT kg_doc_id, toks, pos, name, entity_type,
         lead(pos)  OVER w AS next_pos,
         lead(name) OVER w AS obj,
         lead(entity_type) OVER w AS obj_type
  FROM mv
  WINDOW w AS (PARTITION BY src_row ORDER BY pos)
),
rel AS (
  SELECT kg_doc_id, pos, name AS subj, entity_type AS subj_type,
         CASE WHEN next_pos - pos = 1 THEN '{spec.NEAR_PREDICATE}'
              ELSE array_to_string(toks[pos + 2 : next_pos], '_') END AS predicate,
         obj, obj_type
  FROM pr
  WHERE next_pos IS NOT NULL
    AND next_pos - pos <= {spec.MAX_GAP}
    AND name <> obj
),
rel2 AS (
  SELECT kg_doc_id,
         'entity-' || sha256(kg_doc_id || ':' || subj || ':' || subj_type) AS source_entity_id,
         'entity-' || sha256(kg_doc_id || ':' || obj  || ':' || obj_type)  AS target_entity_id,
         subj, predicate, obj,
         subj || ' ' || predicate || ' ' || obj AS relationship_description,
         pos
  FROM rel
)
""".strip()

_ENTITIES = """
ent AS (
  SELECT 'entity-' || sha256(kg_doc_id || ':' || name || ':' || entity_type) AS entity_id,
         name AS entity_name,
         entity_type,
         name || ' is a ' || entity_type AS entity_description,
         kg_doc_id AS doc_id,
         min(pos) AS first_pos,
         count(*) AS n_mentions
  FROM mv
  GROUP BY kg_doc_id, name, entity_type
)
""".strip()

_H60 = "CAST('0x' || substr(md5({x}), 1, 15) AS BIGINT)"

_SHINGLES = """
sh AS (
  SELECT kg_doc_id,
         list_distinct(list_transform(range(len(toks) - 2),
             i -> toks[i + 1] || ' ' || toks[i + 2] || ' ' || toks[i + 3])) AS shingles
  FROM tok
  WHERE len(toks) >= 3
)
""".strip()


def _sig_sql() -> str:
    # hash each shingle once to the 31-bit universe, then k affine perms —
    # identical integer arithmetic to kgspark.textops.minhash_signatures.
    h31 = "(" + _H60.format(x="s") + f") % {MINHASH_P}"
    mins = []
    for j in range(MINHASH_K):
        a, b = minhash_perm_coeffs(j)
        mins.append(
            f"list_aggregate(list_transform(hs, h -> ({a} * h + {b}) % {MINHASH_P}),"
            f" 'min') AS mh{j}"
        )
    body = ",\n         ".join(mins)
    return (
        "hsh AS (\n  SELECT kg_doc_id,"
        f" list_transform(shingles, s -> {h31}) AS hs\n  FROM sh\n),\n"
        f"sig AS (\n  SELECT kg_doc_id,\n         {body}\n  FROM hsh\n)"
    )


def _bands_sql() -> str:
    n_bands = MINHASH_K // LSH_BAND_ROWS
    parts = []
    for b in range(n_bands):
        cols = " || ':' || ".join(
            f"CAST(mh{b * LSH_BAND_ROWS + r} AS VARCHAR)" for r in range(LSH_BAND_ROWS)
        )
        parts.append(
            f"SELECT kg_doc_id, {b} AS band, sha256({cols}) AS band_hash FROM sig"
        )
    return "bands AS (\n  " + "\n  UNION ALL\n  ".join(parts) + "\n)"


# ---------------------------------------------------------------- oracles


def build() -> dict[str, str]:
    q: dict[str, str] = {}

    q["kg_doc_ids"] = """
SELECT 'doc-' || sha256(trim(text)) AS kg_doc_id,
       sha256(trim(text)) AS text_sha256,
       doc_id AS src_key,
       lang,
       length(text) AS n_chars
FROM documents
WHERE length(trim(text)) > 0
""".strip()

    q["kg_mentions"] = f"""
WITH {TOK},
{_M}
SELECT kg_doc_id, pos, surface, name, entity_type FROM mv
""".strip()

    q["kg_entities"] = f"""
WITH {TOK},
{_M},
{_ENTITIES}
SELECT entity_id, entity_name, entity_type, entity_description, doc_id,
       first_pos, n_mentions
FROM ent
""".strip()

    q["kg_relations"] = f"""
WITH {TOK},
{_M},
{_REL}
SELECT 'relation-' || sha256(kg_doc_id || ':' || source_entity_id || ':' ||
                             target_entity_id || ':' || relationship_description) AS relation_id,
       kg_doc_id AS doc_id,
       source_entity_id, target_entity_id,
       subj, predicate, obj, relationship_description,
       min(pos) AS first_pos,
       count(*) AS n_statements
FROM rel2
GROUP BY kg_doc_id, source_entity_id, target_entity_id,
         subj, predicate, obj, relationship_description
""".strip()

    q["kg_triples"] = f"""
WITH {TOK},
{_M},
{_REL}
SELECT DISTINCT subj, predicate AS pred, obj, kg_doc_id AS doc_id FROM rel2
""".strip()

    # Name-level graph analytics (kgspark.graph.degrees / triangle_counts):
    # the directed distinct pair set d and the canonically-oriented (a < b)
    # undirected edge set e are restated from the relation fold, then degree
    # and triangle counts are plain SQL aggregates/joins — independent of
    # the Spark formulation's union/explode shapes.
    _PAIRS = """
d AS (SELECT DISTINCT subj, obj FROM rel2 WHERE subj <> obj),
e AS (SELECT DISTINCT least(subj, obj) AS a, greatest(subj, obj) AS b FROM d)
""".strip()

    q["graph_degree"] = f"""
WITH {TOK},
{_M},
{_REL},
{_PAIRS},
und AS (
  SELECT name, count(*) AS degree FROM (
    SELECT subj AS name, obj AS nb FROM d
    UNION
    SELECT obj AS name, subj AS nb FROM d
  ) GROUP BY name
),
outd AS (SELECT subj AS name, count(*) AS out_degree FROM d GROUP BY subj),
ind  AS (SELECT obj  AS name, count(*) AS in_degree  FROM d GROUP BY obj)
SELECT und.name,
       und.degree,
       CAST(coalesce(outd.out_degree, 0) AS BIGINT) AS out_degree,
       CAST(coalesce(ind.in_degree, 0) AS BIGINT) AS in_degree
FROM und
LEFT JOIN outd ON und.name = outd.name
LEFT JOIN ind  ON und.name = ind.name
""".strip()
    # every directed pair contributes an undirected neighbor, so `und` is a
    # superset of outd/ind name sets — LEFT JOIN from und is lossless (the
    # Spark side's full_outer merge agrees by the same argument).

    q["graph_triangles"] = f"""
WITH {TOK},
{_M},
{_REL},
{_PAIRS},
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e1.b = e2.a
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT name, count(*) AS n_triangles
FROM (SELECT unnest([x, y, z]) AS name FROM tri)
GROUP BY name
""".strip()

    # Integer fixed-point PageRank (kgspark.graph.pagerank): the recurrence
    # is defined in 64-bit integer arithmetic (see the Spark docstring), so
    # the oracle can restate it exactly — each of the synchronous rounds
    # unrolls to three chained CTEs (dangling mass, inflow, rank update).
    # Every sum is CAST AS BIGINT (DuckDB sum() returns HUGEINT — the
    # sessionize lesson, dtype-parity-gated).
    from .graph import PAGERANK_ITERS, PAGERANK_SCALE

    # Every CTE in the unrolled chain is AS MATERIALIZED: DuckDB inlines
    # plain CTEs at each reference, and r{i} referencing r{i-1} three times
    # would otherwise expand to a 3^15-node plan ("too many open files" on
    # the re-opened parquet scans).  Materializing makes evaluation linear
    # in the round count — the same property the Spark loop has natively.
    pr_body = [
        "pn AS MATERIALIZED (\n"
        "  SELECT name, CAST(coalesce(od.out_deg, 0) AS BIGINT) AS out_deg\n"
        "  FROM (SELECT subj AS name FROM dm UNION SELECT obj FROM dm) nn\n"
        "  LEFT JOIN (SELECT subj AS name, count(*) AS out_deg FROM dm\n"
        "             GROUP BY subj) od USING (name)\n)",
        "pc AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM pn)",
        f"r0 AS MATERIALIZED (SELECT name, out_deg,\n"
        f"  (SELECT {PAGERANK_SCALE} // n FROM pc) AS rank FROM pn)",
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        p = f"r{i - 1}"
        pr_body.append(
            f"dg{i} AS MATERIALIZED (\n"
            f"  SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dang\n"
            f"  FROM {p} WHERE out_deg = 0)"
        )
        pr_body.append(
            f"fl{i} AS MATERIALIZED (SELECT dm.obj AS name,\n"
            f"    CAST(sum(r.rank // r.out_deg) AS BIGINT) AS inflow\n"
            f"  FROM dm JOIN {p} r ON dm.subj = r.name\n"
            f"  WHERE r.out_deg > 0 GROUP BY dm.obj)"
        )
        pr_body.append(
            f"r{i} AS MATERIALIZED (SELECT pn.name, pn.out_deg,\n"
            f"    (SELECT (15 * {PAGERANK_SCALE}) // (100 * n) FROM pc)\n"
            f"    + (85 * (coalesce(fl{i}.inflow, 0)\n"
            f"             + (SELECT dang FROM dg{i}) // (SELECT n FROM pc)))\n"
            f"      // 100 AS rank\n"
            f"  FROM pn LEFT JOIN fl{i} USING (name))"
        )

    def _pr_chain(dm_sql: str) -> str:
        """The shared unroll (dm -> pn/pc/r0 -> dg/fl/r per round),
        parameterized only by the edge-pair source: the word-graph oracle
        (text_keyphrases) reuses byte-identical round arithmetic."""
        return ",\n".join([f"dm AS MATERIALIZED ({dm_sql})"] + pr_body)

    q["graph_pagerank"] = (
        f"WITH {TOK},\n{_M},\n{_REL},\n{_PAIRS},\n"
        + _pr_chain("SELECT subj, obj FROM d")
        + f"\nSELECT name, CAST(rank AS BIGINT) AS pagerank"
        f" FROM r{PAGERANK_ITERS}"
    )

    # Stress centrality (kgspark.graph.stress_centrality): the Brandes
    # two-sweep in pure integers, unrolled per BFS level — forward f{l}
    # (σ path counts, visited-set anti-join), backward p{l} (ψ successor
    # accumulation; succ = neighbors one level deeper), contribution
    # σ·ψ summed over sampled sources.  Same unroll-by-round technique as
    # the pagerank oracle; every sum CAST AS BIGINT.
    from .graph import STRESS_MAX_DEPTH, STRESS_SOURCES

    st_ctes = [
        "und AS MATERIALIZED (SELECT a AS name, b AS nb FROM e\n"
        "  UNION ALL SELECT b, a FROM e)",
        "vn AS MATERIALIZED (SELECT DISTINCT name FROM und)",
        f"src AS MATERIALIZED (SELECT name AS src FROM vn"
        f" ORDER BY name LIMIT {STRESS_SOURCES})",
        "f0 AS MATERIALIZED (SELECT src, src AS node,"
        " CAST(1 AS BIGINT) AS sigma FROM src)",
        "s0 AS MATERIALIZED (SELECT src, node FROM f0)",
    ]
    for i in range(1, STRESS_MAX_DEPTH + 1):
        st_ctes.append(
            f"f{i} AS MATERIALIZED (\n"
            f"  SELECT x.src, x.node, CAST(sum(x.sigma) AS BIGINT) AS sigma\n"
            f"  FROM (SELECT f.src, u.nb AS node, f.sigma\n"
            f"        FROM f{i - 1} f JOIN und u ON f.node = u.name) x\n"
            f"  LEFT JOIN s{i - 1} s ON s.src = x.src AND s.node = x.node\n"
            f"  WHERE s.src IS NULL GROUP BY x.src, x.node)"
        )
        st_ctes.append(
            f"s{i} AS MATERIALIZED (SELECT src, node FROM s{i - 1}\n"
            f"  UNION ALL SELECT src, node FROM f{i})"
        )
    st_ctes.append(
        f"p{STRESS_MAX_DEPTH} AS MATERIALIZED (SELECT src, node,"
        f" CAST(0 AS BIGINT) AS psi FROM f{STRESS_MAX_DEPTH})"
    )
    for i in range(STRESS_MAX_DEPTH - 1, -1, -1):
        st_ctes.append(
            f"p{i} AS MATERIALIZED (\n"
            f"  SELECT f.src, f.node,\n"
            f"         CAST(coalesce(sum(1 + pw.psi), 0) AS BIGINT) AS psi\n"
            f"  FROM f{i} f JOIN und u ON f.node = u.name\n"
            f"  LEFT JOIN p{i + 1} pw ON pw.src = f.src AND pw.node = u.nb\n"
            f"  GROUP BY f.src, f.node)"
        )
    st_ctes.append(
        "allf AS MATERIALIZED (\n"
        + "\n  UNION ALL\n".join(
            f"  SELECT f.src, f.node, f.sigma, p.psi\n"
            f"  FROM f{i} f JOIN p{i} p ON p.src = f.src AND p.node = f.node"
            for i in range(STRESS_MAX_DEPTH + 1)
        )
        + ")"
    )
    q["graph_stress_centrality"] = (
        f"WITH {TOK},\n{_M},\n{_REL},\n{_PAIRS},\n"
        + ",\n".join(st_ctes)
        + "\nSELECT vn.name, CAST(coalesce(st.stress, 0) AS BIGINT) AS stress"
        "\nFROM vn LEFT JOIN ("
        "\n  SELECT node AS name, CAST(sum(sigma * psi) AS BIGINT) AS stress"
        "\n  FROM allf WHERE node <> src GROUP BY node) st USING (name)"
    )

    # Predicate cardinality profile (kgspark.ontology.predicate_stats):
    # plain SQL aggregates over the distinct triple set; the symmetry
    # self-join and the integer micro ratio restated directly.
    q["kg_predicate_stats"] = f"""
WITH {TOK},
{_M},
{_REL},
tt AS (SELECT DISTINCT subj, predicate AS pred, obj FROM rel2),
base AS (
  SELECT pred, CAST(count(*) AS BIGINT) AS n_triples,
         CAST(count(DISTINCT subj) AS BIGINT) AS n_subjects,
         CAST(count(DISTINCT obj) AS BIGINT) AS n_objects
  FROM tt GROUP BY pred
),
fo AS (SELECT pred, CAST(max(n) AS BIGINT) AS max_fanout FROM
       (SELECT pred, subj, count(*) AS n FROM tt GROUP BY pred, subj)
       GROUP BY pred),
fi AS (SELECT pred, CAST(max(n) AS BIGINT) AS max_fanin FROM
       (SELECT pred, obj, count(*) AS n FROM tt GROUP BY pred, obj)
       GROUP BY pred),
dp AS (SELECT pred, subj, obj FROM tt WHERE subj <> obj),
np AS (SELECT pred, CAST(count(*) AS BIGINT) AS n_pairs FROM dp GROUP BY pred),
sym AS (
  SELECT x.pred, CAST(count(*) AS BIGINT) AS n_sym
  FROM dp x JOIN dp y ON x.pred = y.pred AND x.subj = y.obj
        AND x.obj = y.subj AND x.subj < x.obj
  GROUP BY x.pred
)
SELECT base.pred, n_triples, n_subjects, n_objects,
       fo.max_fanout, fi.max_fanin,
       CASE WHEN fo.max_fanout = 1 AND fi.max_fanin = 1 THEN '1:1'
            WHEN fi.max_fanin = 1 THEN '1:N'
            WHEN fo.max_fanout = 1 THEN 'N:1'
            ELSE 'M:N' END AS cardinality,
       CAST(coalesce(sym.n_sym, 0) AS BIGINT) AS n_symmetric_pairs,
       CAST(CASE WHEN coalesce(np.n_pairs, 0) > 0
                 THEN 2 * coalesce(sym.n_sym, 0) * 1000000 // np.n_pairs
                 ELSE 0 END AS BIGINT) AS symmetry_micro
FROM base
JOIN fo USING (pred)
JOIN fi USING (pred)
LEFT JOIN np USING (pred)
LEFT JOIN sym USING (pred)
""".strip()

    # AMIE-style rule mining (kgspark.ontology.rule_mining): frequency-
    # pruned predicate set, middle-entity body join, DISTINCT pair
    # support, integer micro confidence — restated as plain SQL joins.
    from .ontology import RULE_MIN_SUPPORT, RULE_TOP_PREDS

    _RULE_PREFIX = f"""tt AS (SELECT DISTINCT subj, predicate AS pred, obj FROM rel2
       WHERE subj <> obj),
topp AS (SELECT pred FROM (SELECT pred, count(*) AS n FROM tt GROUP BY pred)
         ORDER BY n DESC, pred LIMIT {RULE_TOP_PREDS}),
tp AS (SELECT tt.* FROM tt JOIN topp USING (pred)),
body AS (SELECT DISTINCT x.pred AS body_p, y.pred AS body_q,
                x.subj AS a, y.obj AS c
         FROM tp x JOIN tp y ON x.obj = y.subj WHERE x.subj <> y.obj),
bp AS (SELECT body_p, body_q, CAST(count(*) AS BIGINT) AS body_pairs
       FROM body GROUP BY 1, 2),
rm AS (SELECT body_p, body_q, h.pred AS head_r,
             CAST(count(*) AS BIGINT) AS support
      FROM body JOIN tp h ON h.subj = body.a AND h.obj = body.c
      GROUP BY 1, 2, 3 HAVING count(*) >= {RULE_MIN_SUPPORT})""".strip()

    q["kg_rule_mining"] = f"""
WITH {TOK},
{_M},
{_REL},
{_RULE_PREFIX}
SELECT body_p, body_q, head_r, support, body_pairs,
       CAST(support * 1000000 // body_pairs AS BIGINT) AS confidence_micro
FROM rm JOIN bp USING (body_p, body_q)
""".strip()

    # Rule application (kgspark.ontology.rule_apply): qualifying rules
    # joined back onto their body pairs, store anti-join, arg-max rule per
    # predicted fact (row_number mirrors Spark's max-struct ordering).
    from .ontology import RULE_APPLY_MIN_CONF_MICRO

    q["kg_rule_apply"] = f"""
WITH {TOK},
{_M},
{_REL},
{_RULE_PREFIX},
rules AS (
  SELECT body_p, body_q, head_r,
         CAST(support * 1000000 // body_pairs AS BIGINT) AS confidence_micro
  FROM rm JOIN bp USING (body_p, body_q)
  WHERE support * 1000000 // body_pairs >= {RULE_APPLY_MIN_CONF_MICRO}
),
cand AS (
  SELECT body.a, rules.head_r, body.c,
         rules.confidence_micro, rules.body_p, rules.body_q
  FROM body JOIN rules USING (body_p, body_q)
),
missing AS (
  SELECT cand.* FROM cand
  LEFT JOIN tp h ON h.subj = cand.a AND h.pred = cand.head_r
        AND h.obj = cand.c
  WHERE h.subj IS NULL
)
SELECT subj, pred, obj, confidence_micro, body_p, body_q FROM (
  SELECT a AS subj, head_r AS pred, c AS obj,
         confidence_micro, body_p, body_q,
         row_number() OVER (PARTITION BY a, head_r, c
             ORDER BY confidence_micro DESC, body_p DESC, body_q DESC)
         AS rn
  FROM missing) WHERE rn = 1
""".strip()

    # TextRank keyphrases (kgspark.textops.keyphrases): word-adjacency pair
    # derivation in SQL (letter runs, length/stoplist filter, consecutive
    # pairs via unnest(range), undirected via UNION), then the SAME unroll.
    from .textops import KEYPHRASE_MIN_LEN, KEYPHRASE_STOPWORDS, KEYPHRASE_TOP_K

    stop_sql = ", ".join(f"'{w}'" for w in KEYPHRASE_STOPWORDS)
    kw_prefix = (
        "kw AS MATERIALIZED (\n"
        "  SELECT list_filter(regexp_extract_all(lower(text), '[a-z]+'),\n"
        f"             x -> length(x) >= {KEYPHRASE_MIN_LEN}"
        f" AND x NOT IN ({stop_sql})) AS ws\n"
        "  FROM documents WHERE length(trim(text)) > 0\n)",
        "kpr AS MATERIALIZED (SELECT ws, unnest(range(1, len(ws))) AS i\n"
        "  FROM kw WHERE len(ws) >= 2)",
        "kpd AS MATERIALIZED (SELECT DISTINCT ws[i] AS subj, ws[i + 1] AS obj\n"
        "  FROM kpr WHERE ws[i] <> ws[i + 1])",
        "kpu AS MATERIALIZED (SELECT subj, obj FROM kpd\n"
        "  UNION SELECT obj, subj FROM kpd)",
    )
    q["text_keyphrases"] = (
        "WITH "
        + ",\n".join(kw_prefix)
        + ",\n"
        + _pr_chain("SELECT subj, obj FROM kpu")
        + f"\nSELECT name AS word, CAST(rank AS BIGINT) AS pagerank"
        f" FROM r{PAGERANK_ITERS}"
        f" ORDER BY pagerank DESC, word LIMIT {KEYPHRASE_TOP_K}"
    )

    # Personalized PageRank (kgspark.graph.personalized_pagerank): same
    # unroll technique as the pagerank oracle; restart + dangling mass go
    # to the deterministic seed set (the n_seeds lexicographically
    # smallest names) via the 0/1 is_seed indicator.  k is a scalar CTE
    # (min(n_seeds, n) by construction of the LIMIT).
    from .graph import PPR_SEEDS

    ppr_ctes = [
        "qm AS MATERIALIZED (SELECT subj, obj FROM d)",
        "qn AS MATERIALIZED (\n"
        "  SELECT name, CAST(coalesce(od.out_deg, 0) AS BIGINT) AS out_deg\n"
        "  FROM (SELECT subj AS name FROM qm UNION SELECT obj FROM qm) nn\n"
        "  LEFT JOIN (SELECT subj AS name, count(*) AS out_deg FROM qm\n"
        "             GROUP BY subj) od USING (name)\n)",
        f"qs AS MATERIALIZED (SELECT name FROM qn ORDER BY name"
        f" LIMIT {PPR_SEEDS})",
        "qk AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS k FROM qs)",
        "qnn AS MATERIALIZED (\n"
        "  SELECT qn.name, qn.out_deg,\n"
        "         CAST(CASE WHEN qs.name IS NOT NULL THEN 1 ELSE 0 END\n"
        "              AS BIGINT) AS is_seed\n"
        "  FROM qn LEFT JOIN qs USING (name))",
        f"p0 AS MATERIALIZED (SELECT name, out_deg, is_seed,\n"
        f"  is_seed * (SELECT {PAGERANK_SCALE} // k FROM qk) AS rank"
        f" FROM qnn)",
    ]
    for i in range(1, PAGERANK_ITERS + 1):
        p = f"p{i - 1}"
        ppr_ctes.append(
            f"qg{i} AS MATERIALIZED (\n"
            f"  SELECT CAST(coalesce(sum(rank), 0) AS BIGINT) AS dang\n"
            f"  FROM {p} WHERE out_deg = 0)"
        )
        ppr_ctes.append(
            f"qf{i} AS MATERIALIZED (SELECT qm.obj AS name,\n"
            f"    CAST(sum(r.rank // r.out_deg) AS BIGINT) AS inflow\n"
            f"  FROM qm JOIN {p} r ON qm.subj = r.name\n"
            f"  WHERE r.out_deg > 0 GROUP BY qm.obj)"
        )
        ppr_ctes.append(
            f"p{i} AS MATERIALIZED (SELECT qnn.name, qnn.out_deg,"
            f" qnn.is_seed,\n"
            f"    qnn.is_seed\n"
            f"    * (SELECT (15 * {PAGERANK_SCALE}) // (100 * k) FROM qk)\n"
            f"    + (85 * (coalesce(qf{i}.inflow, 0)\n"
            f"             + qnn.is_seed * ((SELECT dang FROM qg{i})\n"
            f"                              // (SELECT k FROM qk))))\n"
            f"      // 100 AS rank\n"
            f"  FROM qnn LEFT JOIN qf{i} USING (name))"
        )
    q["graph_ppr"] = (
        f"WITH {TOK},\n{_M},\n{_REL},\n{_PAIRS},\n"
        + ",\n".join(ppr_ctes)
        + f"\nSELECT name, is_seed, CAST(rank AS BIGINT) AS ppr"
        f" FROM p{PAGERANK_ITERS}"
    )

    # Bounded-hop weighted shortest paths (kgspark.graph.weighted_
    # shortest_paths): evidence-weighted multi-source Bellman-Ford, all
    # integer micro-costs, so each synchronous relaxation round unrolls to
    # one MATERIALIZED CTE (prev dist UNION ALL relaxed in-edges, hash-min
    # per head).  Support counts DISTINCT documents per directed pair —
    # rel2 is per-occurrence, the DISTINCT collapses it identically to the
    # Spark side's countDistinct(doc_id).
    from .graph import WSP_HOPS, WSP_MICRO, WSP_SEEDS

    wsp_ctes = [
        "vsup AS MATERIALIZED (\n"
        "  SELECT subj, obj,\n"
        "         CAST(count(DISTINCT kg_doc_id) AS BIGINT) AS support\n"
        "  FROM rel2 WHERE subj <> obj GROUP BY subj, obj)",
        f"vwe AS MATERIALIZED (SELECT subj, obj,\n"
        f"  CAST({WSP_MICRO} // support AS BIGINT) AS w FROM vsup)",
        "vwn AS MATERIALIZED (\n"
        "  SELECT name FROM (SELECT subj AS name FROM vwe\n"
        "                    UNION SELECT obj FROM vwe))",
        f"v0 AS MATERIALIZED (SELECT name, CAST(0 AS BIGINT) AS dist\n"
        f"  FROM (SELECT name FROM vwn ORDER BY name LIMIT {WSP_SEEDS}))",
    ]
    for i in range(1, WSP_HOPS + 1):
        p = f"v{i - 1}"
        wsp_ctes.append(
            f"v{i} AS MATERIALIZED (\n"
            f"  SELECT name, CAST(min(dist) AS BIGINT) AS dist FROM (\n"
            f"    SELECT name, dist FROM {p}\n"
            f"    UNION ALL\n"
            f"    SELECT vwe.obj AS name, {p}.dist + vwe.w AS dist\n"
            f"    FROM {p} JOIN vwe ON {p}.name = vwe.subj)\n"
            f"  GROUP BY name)"
        )
    q["graph_weighted_paths"] = (
        f"WITH {TOK},\n{_M},\n{_REL},\n"
        + ",\n".join(wsp_ctes)
        + f"\nSELECT name, dist AS dist_micro FROM v{WSP_HOPS}"
    )

    # Integer fixed-point HITS (kgspark.graph.hits): same technique as the
    # pagerank oracle — the recurrence is integer-defined, so each of the
    # rounds unrolls to MATERIALIZED CTEs (authority fold, normalize, hub
    # fold, normalize); the quotient-first renormalization
    # x // greatest(total // scale, 1) is restated verbatim.
    from .graph import HITS_ITERS, HITS_SCALE

    hits_ctes = [
        "hdm AS MATERIALIZED (SELECT subj, obj FROM d)",
        "hn AS MATERIALIZED (\n"
        "  SELECT name FROM (SELECT subj AS name FROM hdm\n"
        "                    UNION SELECT obj FROM hdm))",
        "hc AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM hn)",
        f"s0 AS MATERIALIZED (SELECT name,\n"
        f"  (SELECT {HITS_SCALE} // n FROM hc) AS hub,\n"
        f"  (SELECT {HITS_SCALE} // n FROM hc) AS authority FROM hn)",
    ]
    for i in range(1, HITS_ITERS + 1):
        p = f"s{i - 1}"
        hits_ctes += [
            f"ar{i} AS MATERIALIZED (SELECT hdm.obj AS name,\n"
            f"    CAST(sum(s.hub) AS BIGINT) AS araw\n"
            f"  FROM hdm JOIN {p} s ON hdm.subj = s.name GROUP BY hdm.obj)",
            f"af{i} AS MATERIALIZED (SELECT hn.name,\n"
            f"    CAST(coalesce(ar{i}.araw, 0) AS BIGINT) AS araw\n"
            f"  FROM hn LEFT JOIN ar{i} USING (name))",
            f"at{i} AS MATERIALIZED (\n"
            f"  SELECT CAST(coalesce(sum(araw), 0) AS BIGINT) AS t FROM af{i})",
            f"aa{i} AS MATERIALIZED (SELECT name,\n"
            f"    CAST(araw // greatest((SELECT t FROM at{i}) // {HITS_SCALE},"
            f" 1) AS BIGINT) AS authority\n"
            f"  FROM af{i})",
            f"hr{i} AS MATERIALIZED (SELECT hdm.subj AS name,\n"
            f"    CAST(sum(a.authority) AS BIGINT) AS hraw\n"
            f"  FROM hdm JOIN aa{i} a ON hdm.obj = a.name GROUP BY hdm.subj)",
            f"hf{i} AS MATERIALIZED (SELECT hn.name,\n"
            f"    CAST(coalesce(hr{i}.hraw, 0) AS BIGINT) AS hraw\n"
            f"  FROM hn LEFT JOIN hr{i} USING (name))",
            f"ht{i} AS MATERIALIZED (\n"
            f"  SELECT CAST(coalesce(sum(hraw), 0) AS BIGINT) AS t FROM hf{i})",
            f"s{i} AS MATERIALIZED (SELECT hf{i}.name,\n"
            f"    CAST(hraw // greatest((SELECT t FROM ht{i}) // {HITS_SCALE},"
            f" 1) AS BIGINT) AS hub,\n"
            f"    aa{i}.authority\n"
            f"  FROM hf{i} JOIN aa{i} USING (name))",
        ]
    q["graph_hits"] = (
        f"WITH {TOK},\n{_M},\n{_REL},\n{_PAIRS},\n"
        + ",\n".join(hits_ctes)
        + f"\nSELECT name, hub, authority FROM s{HITS_ITERS}"
    )

    # k-core via the h-index fixed point (kgspark.graph.kcore): the
    # recurrence is pure small-integer arithmetic, so each synchronous
    # round unrolls to one MATERIALIZED CTE.  The h-index is restated with
    # a WINDOW (desc rank, count values >= rank) instead of Spark's
    # HOF-array form — independent mechanism, same function (the count is
    # invariant to tie order within equal values).
    from .graph import KCORE_ITERS

    kc_ctes = [
        "kadj AS MATERIALIZED (\n"
        "  SELECT a AS name, b AS nb FROM e\n"
        "  UNION ALL SELECT b AS name, a AS nb FROM e)",
        "kc0 AS MATERIALIZED (\n"
        "  SELECT name, CAST(count(*) AS BIGINT) AS val\n"
        "  FROM kadj GROUP BY name)",
    ]
    for i in range(1, KCORE_ITERS + 1):
        kc_ctes.append(
            f"kc{i} AS MATERIALIZED (\n"
            f"  SELECT name,\n"
            f"         CAST(count(*) FILTER (WHERE nbval >= rn) AS BIGINT)"
            f" AS val\n"
            f"  FROM (SELECT kadj.name, c.val AS nbval,\n"
            f"               row_number() OVER (PARTITION BY kadj.name\n"
            f"                                  ORDER BY c.val DESC) AS rn\n"
            f"        FROM kadj JOIN kc{i - 1} c ON c.name = kadj.nb)\n"
            f"  GROUP BY name)"
        )
    q["graph_kcore"] = (
        f"WITH {TOK},\n{_M},\n{_REL},\n{_PAIRS},\n"
        + ",\n".join(kc_ctes)
        + f"\nSELECT name, val AS coreness FROM kc{KCORE_ITERS}"
    )

    # Label-propagation communities (kgspark.graph.lpa_communities): the
    # fixed synchronous round count is the spec, so each round unrolls to
    # one MATERIALIZED CTE.  The argmax is restated with a row_number
    # window (count DESC, label ASC) instead of Spark's min(struct(-n,
    # label)) fold — independent mechanism, same deterministic pick.
    from .graph import LPA_ITERS

    lpa_ctes = [
        "ladj AS MATERIALIZED (\n"
        "  SELECT a AS name, b AS nb FROM e\n"
        "  UNION ALL SELECT b AS name, a AS nb FROM e)",
        "l0 AS MATERIALIZED (\n"
        "  SELECT DISTINCT name, name AS label FROM ladj)",
    ]
    for i in range(1, LPA_ITERS + 1):
        lpa_ctes.append(
            f"l{i} AS MATERIALIZED (\n"
            f"  SELECT name, label FROM (\n"
            f"    SELECT name, label,\n"
            f"           row_number() OVER (PARTITION BY name\n"
            f"                              ORDER BY c DESC, label ASC) AS rn\n"
            f"    FROM (SELECT ladj.name, p.label, count(*) AS c\n"
            f"          FROM ladj JOIN l{i - 1} p ON p.name = ladj.nb\n"
            f"          GROUP BY 1, 2))\n"
            f"  WHERE rn = 1)"
        )
    q["graph_lpa_communities"] = (
        f"WITH {TOK},\n{_M},\n{_REL},\n{_PAIRS},\n"
        + ",\n".join(lpa_ctes)
        + f"\nSELECT name, label AS community_id,\n"
        f"       CAST(count(*) OVER (PARTITION BY label) AS BIGINT)"
        f" AS n_members\nFROM l{LPA_ITERS}"
    )

    q["kg_entity_links"] = f"""
WITH {TOK},
{_M},
{_ENTITIES}
SELECT e.entity_id, e.entity_name, e.entity_type, e.doc_id,
       coalesce(alias_dict.canonical_name, e.entity_name) AS canonical_name,
       'canon-' || sha256(coalesce(alias_dict.canonical_name, e.entity_name)) AS canonical_id,
       coalesce(alias_dict.canonical_name, e.entity_name) <> e.entity_name AS linked
FROM ent e
LEFT JOIN {spec.alias_values_sql()} ON lower(trim(e.entity_name)) = alias_dict.alias
""".strip()

    # Context-scored disambiguation (kgspark.linking.disambiguate): the
    # Spark side is a pure narrow projection (literal candidate arrays,
    # array-slice context, struct-sort argmax); the oracle restates it
    # relationally — unnest the context, join the candidate VALUES table,
    # count matches, row_number argmax with the same (score desc, candidate
    # asc) tie-break and a lead() runner-up for the margin.
    _W = spec.AMBIG_CONTEXT_WINDOW
    _ALIASES = ", ".join(f"'{a}'" for a in sorted(spec.AMBIG_CANDIDATES))
    q["kg_entity_disambiguation"] = f"""
WITH {TOK},
am AS (
  SELECT kg_doc_id, src_row, toks, surface, pos FROM (
    SELECT kg_doc_id, src_row, toks,
           unnest(toks) AS surface, unnest(range(len(toks))) AS pos
    FROM tok
  ) WHERE surface IN ({_ALIASES})
),
ctx AS (
  SELECT kg_doc_id, src_row, pos, surface,
         list_distinct(list_concat(
           toks[greatest(pos + 1 - {_W}, 1):pos],
           toks[pos + 2:least(len(toks), pos + 1 + {_W})]
         )) AS ctx
  FROM am
),
cand AS (SELECT alias, candidate, term FROM {spec.ambig_values_sql()}),
base AS (
  SELECT c.kg_doc_id, c.src_row, c.pos, c.surface, b.candidate
  FROM ctx c JOIN (SELECT DISTINCT alias, candidate FROM cand) b
    ON c.surface = b.alias
),
cm AS (
  SELECT x.kg_doc_id, x.src_row, x.pos, x.surface, c.candidate,
         count(*) AS hits
  FROM (SELECT kg_doc_id, src_row, pos, surface, unnest(ctx) AS ct FROM ctx) x
  JOIN cand c ON c.alias = x.surface AND c.term = x.ct
  GROUP BY ALL
),
scored AS (
  SELECT b.*, CAST(coalesce(cm.hits, 0) AS BIGINT) AS score
  FROM base b
  LEFT JOIN cm ON b.kg_doc_id = cm.kg_doc_id AND b.src_row = cm.src_row
    AND b.pos = cm.pos AND b.surface = cm.surface
    AND b.candidate = cm.candidate
),
ranked AS (
  SELECT *,
    row_number() OVER (PARTITION BY src_row, pos
                       ORDER BY score DESC, candidate) AS rk,
    CAST(count(*) OVER (PARTITION BY src_row, pos) AS BIGINT)
      AS n_candidates,
    score - coalesce(lead(score) OVER (PARTITION BY src_row, pos
                       ORDER BY score DESC, candidate), 0) AS margin
  FROM scored
)
SELECT src_row, kg_doc_id, CAST(pos AS INT) AS pos, surface,
       candidate AS linked_name, score, CAST(margin AS BIGINT) AS margin,
       n_candidates
FROM ranked WHERE rk = 1
""".strip()

    q["kg_chunks"] = f"""
WITH {TOK},
ch AS (
  SELECT kg_doc_id AS doc_id,
         unnest(range(CAST(ceil(len(toks) / {spec.CHUNK_TOKENS}.0) AS BIGINT))) AS chunk_order_index,
         toks
  FROM tok
),
ct AS (
  SELECT doc_id, chunk_order_index,
         array_to_string(toks[chunk_order_index * {spec.CHUNK_TOKENS} + 1 :
                              (chunk_order_index + 1) * {spec.CHUNK_TOKENS}], ' ') AS content
  FROM ch
)
SELECT 'chunk-' || sha256(content) AS chunk_id,
       doc_id, chunk_order_index, content,
       len(string_split(content, ' ')) AS n_tokens
FROM ct
""".strip()

    step = spec.CHUNK_TOKENS - spec.CHUNK_WINDOW_OVERLAP
    q["kg_chunks_overlap"] = f"""
WITH {TOK},
ch AS (
  SELECT kg_doc_id AS doc_id,
         unnest(range(1 + CAST(ceil(greatest(len(toks) - {spec.CHUNK_TOKENS}, 0) / {step}.0) AS BIGINT))) AS chunk_order_index,
         toks
  FROM tok
),
ct AS (
  SELECT doc_id, chunk_order_index,
         array_to_string(toks[chunk_order_index * {step} + 1 :
                              chunk_order_index * {step} + {spec.CHUNK_TOKENS}], ' ') AS content
  FROM ch
)
SELECT 'chunk-' || sha256(content) AS chunk_id,
       doc_id, chunk_order_index, content,
       len(string_split(content, ' ')) AS n_tokens
FROM ct
""".strip()

    dmax, dstep = spec.DELIM_CHUNK_MAX_TOKENS, (
        spec.DELIM_CHUNK_MAX_TOKENS - spec.DELIM_CHUNK_OVERLAP
    )
    q["kg_chunks_delim"] = f"""
WITH {TOK},
pieces AS (
  SELECT kg_doc_id, src_row,
         unnest(string_split(ttext, '{spec.DELIM_CHUNK_DELIMITER}')) AS piece,
         unnest(range(len(string_split(ttext, '{spec.DELIM_CHUNK_DELIMITER}')))) AS pidx
  FROM tok
),
pt AS (
  SELECT kg_doc_id, src_row, pidx,
         trim(piece, concat(' ', chr(9), chr(10), chr(13), chr(12), chr(11))) AS piece,
         list_filter(string_split_regex(
           trim(piece, concat(' ', chr(9), chr(10), chr(13), chr(12), chr(11))), '\\s+'),
           x -> length(x) > 0) AS ptoks
  FROM pieces
  WHERE length(trim(piece, concat(' ', chr(9), chr(10), chr(13), chr(12), chr(11)))) > 0
),
wins AS (
  SELECT kg_doc_id, src_row, pidx,
         CASE WHEN len(ptoks) <= {dmax} THEN [piece]
              ELSE list_transform(
                     range(1 + CAST(ceil((len(ptoks) - {dmax}) / {dstep}.0) AS BIGINT)),
                     c -> array_to_string(ptoks[c * {dstep} + 1 : c * {dstep} + {dmax}], ' '))
         END AS contents
  FROM pt
),
flat AS (
  SELECT kg_doc_id, src_row, pidx,
         unnest(contents) AS content,
         unnest(range(len(contents))) AS widx
  FROM wins
),
ordered AS (
  SELECT kg_doc_id AS doc_id, content,
         row_number() OVER (PARTITION BY src_row ORDER BY pidx, widx) - 1 AS chunk_order_index
  FROM flat
)
SELECT 'chunk-' || sha256(content) AS chunk_id,
       doc_id, chunk_order_index, content,
       len(string_split_regex(content, '\\s+')) AS n_tokens
FROM ordered
""".strip()

    q["dedup_exact"] = """
SELECT sha256(trim(text)) AS content_sha256,
       min(doc_id) AS keep_key,
       count(*) AS n_copies
FROM documents
WHERE length(trim(text)) > 0
GROUP BY sha256(trim(text))
""".strip()

    # KMV sketch (kgspark.textops.distinct_kmv): same sha256-prefix hash,
    # same all-integer estimate arithmetic (`//` is DuckDB's integer div,
    # matching Spark's `div`); small-set rule when a group has < k hashes.
    q["docs_distinct_kmv"] = """
WITH d AS (
  SELECT DISTINCT lang,
         greatest(CAST(concat('0x', substr(sha256(text), 1, 12)) AS BIGINT), 1) AS hv
  FROM documents WHERE text IS NOT NULL
), r AS (
  SELECT lang, hv,
         row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn,
         count(*) OVER (PARTITION BY lang) AS n
  FROM d
)
SELECT lang,
       CAST(max(n) AS BIGINT) AS n_distinct,
       CAST(64 AS BIGINT) AS kmv_k,
       CAST(CASE WHEN max(n) < 64 THEN max(n)
            ELSE 17732923532771328 // max(CASE WHEN rn = 64 THEN hv END)
            END AS BIGINT) AS kmv_estimate
FROM r GROUP BY lang
""".strip()

    # Count-min sketch (kgspark.textops.cms_heavy_hitters): identical
    # md5-hash sketch rebuilt in SQL; sum() is cast to BIGINT (DuckDB sums
    # BIGINT into HUGEINT, which the dtype-parity gate bans).
    q["text_cms_heavy_hitters"] = f"""
WITH {TOK},
tc AS (SELECT unnest(toks) AS term FROM tok),
counts AS (SELECT term, count(*) AS exact_count FROM tc GROUP BY term),
js AS (SELECT unnest(range(4)) AS j),
cells AS (
  SELECT j,
         CAST('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || '|' || term), 1, 15) AS BIGINT) % 512 AS cell,
         CAST(sum(exact_count) AS BIGINT) AS c
  FROM counts CROSS JOIN js
  GROUP BY 1, 2
),
topk AS (SELECT term, exact_count FROM counts ORDER BY exact_count DESC, term LIMIT 20)
SELECT t.term, t.exact_count, min(c.c) AS cms_count,
       min(c.c) - t.exact_count AS cms_over
FROM topk t
CROSS JOIN js
JOIN cells c ON c.j = js.j
 AND c.cell = CAST('0x' || substr(md5('cms' || CAST(js.j AS VARCHAR) || '|' || t.term), 1, 15) AS BIGINT) % 512
GROUP BY 1, 2
""".strip()

    # Bloom prefilter (kgspark.sketches.bloom_prefilter): the identical
    # md5-hash bit array rebuilt in SQL — same sizing rule
    # m = 2^max(8, ceil(log2(16 n))), same 32-bit words, same k=3 probes.
    q["bloom_prefilter"] = """
WITH keys AS (SELECT DISTINCT o_custkey AS k FROM orders),
m AS (SELECT CAST(power(2, greatest(8, ceil(log2(16 * count(*))))) AS BIGINT) AS m FROM keys),
js AS (SELECT unnest(range(3)) AS j),
pos AS (
  SELECT CAST('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || '|' || CAST(k AS VARCHAR)), 1, 15) AS BIGINT)
         % (SELECT m FROM m) AS pos
  FROM keys CROSS JOIN js
),
words AS (
  SELECT pos // 32 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS bits
  FROM pos GROUP BY 1
),
cand AS (SELECT DISTINCT c_custkey AS cand_key FROM customer),
probe AS (
  SELECT cand_key,
         CAST('0x' || substr(md5('bloom' || CAST(j AS VARCHAR) || '|' || CAST(cand_key AS VARCHAR)), 1, 15) AS BIGINT)
         % (SELECT m FROM m) AS pos
  FROM cand CROSS JOIN js
)
SELECT p.cand_key,
       bool_and(coalesce((w.bits & (CAST(1 AS BIGINT) << CAST(p.pos % 32 AS INTEGER))) != 0, false)) AS bloom_hit,
       bool_and(p.cand_key IN (SELECT k FROM keys)) AS is_member
FROM probe p LEFT JOIN words w ON w.word = p.pos // 32
GROUP BY 1
""".strip()

    q["text_token_stats"] = f"""
WITH {TOK}
SELECT kg_doc_id,
       raw_chars AS n_chars,
       len(toks) AS n_tokens,
       len(list_distinct(toks)) AS n_distinct_tokens,
       round(len(list_distinct(toks)) * 1.0 / len(toks), 6) AS type_token_ratio,
       sha256(array_to_string(list_sort(list_distinct(toks)), ' ')) AS vocab_fingerprint
FROM tok
""".strip()

    # Gopher repetition profile (kgspark.textops.repetition_stats_arrow): the
    # oracle re-derives the tagged gram stream with DuckDB 1-based inclusive
    # list slices (vs the Arrow kernel's Python token tuples) and a
    # two-level count aggregation.  range(len - n + 1) is empty for short
    # docs, so <n-token documents emit no row for that n on both engines.
    ns_list = ", ".join(str(n) for n in REPETITION_NS)
    q["text_repetition"] = f"""
WITH {TOK},
g AS (
  SELECT src_row, kg_doc_id, n, unnest(grams) AS gram FROM (
    SELECT src_row, kg_doc_id, n,
           list_transform(range(len(toks) - n + 1),
                          i -> array_to_string(toks[i + 1 : i + n], ' ')) AS grams
    FROM tok, (SELECT unnest([{ns_list}]) AS n) ns
  )
),
c AS (
  SELECT src_row, kg_doc_id, n, gram, count(*) AS c
  FROM g GROUP BY src_row, kg_doc_id, n, gram
)
SELECT kg_doc_id,
       CAST(n AS BIGINT) AS n,
       CAST(sum(c) AS BIGINT) AS n_ngrams,
       round(max(c) / sum(c), 6) AS top_ngram_frac,
       round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / sum(c), 6) AS dup_ngram_frac
FROM c GROUP BY src_row, kg_doc_id, n
""".strip()

    # Packing plan (kgspark.textops.pack_plan): the oracle states the SPEC
    # directly — one plain global cumsum window in the (h mod B, h, doc)
    # order (single-node DuckDB is fine with it); the Spark side's
    # two-level distributed prefix sum must reproduce it exactly.
    from .textops import PACK_BUCKETS, PACK_CTX_TOKENS

    q["docs_pack_plan"] = f"""
WITH {TOK},
pk AS (
  SELECT DISTINCT kg_doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         {_H60.format(x="ttext")} AS h
  FROM tok
),
po AS (
  SELECT kg_doc_id, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (
                ORDER BY h % {PACK_BUCKETS}, h, kg_doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0) AS BIGINT) AS start_offset
  FROM pk
)
SELECT kg_doc_id, n_tokens, start_offset,
       start_offset // {PACK_CTX_TOKENS} AS start_seq,
       (start_offset + n_tokens - 1) // {PACK_CTX_TOKENS} AS end_seq,
       start_offset % {PACK_CTX_TOKENS} AS offset_in_seq
FROM po
""".strip()

    # Materialized packing (kgspark.textops.pack_apply): reassembly stated
    # over the NAIVE global-cumsum placement (the single-node statement of
    # the spec the distributed prefix sum must reproduce), tokens rejoined
    # per window with string_agg ORDER BY the unique global position.
    q["docs_pack_apply"] = f"""
WITH {TOK},
pk AS (
  SELECT DISTINCT kg_doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         {_H60.format(x="ttext")} AS h
  FROM tok
),
po AS (
  SELECT kg_doc_id,
         CAST(coalesce(sum(n_tokens) OVER (
                ORDER BY h % {PACK_BUCKETS}, h, kg_doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              0) AS BIGINT) AS start_offset
  FROM pk
),
ptok AS (SELECT DISTINCT kg_doc_id, toks FROM tok),
ex AS (
  SELECT po.start_offset + p.pos AS gpos, p.tok
  FROM (SELECT kg_doc_id, unnest(toks) AS tok,
               unnest(range(len(toks))) AS pos
        FROM ptok) p
  JOIN po ON po.kg_doc_id = p.kg_doc_id
)
SELECT gpos // {PACK_CTX_TOKENS} AS seq_id,
       CAST(count(*) AS BIGINT) AS n_filled,
       string_agg(tok, ' ' ORDER BY gpos) AS seq_text
FROM ex GROUP BY 1
""".strip()

    # Corpus-mixing plan (kgspark.textops.mixture_plan): pure integer
    # arithmetic (micro-unit shares, quotient-first products), so the SQL
    # restates it exactly.  Every aggregate is CAST AS BIGINT (HUGEINT ban).
    _tgt_vals = ", ".join(
        f"('{k}', {v})" for k, v in spec.mixture_target_rows()
    )
    q["docs_mixture_plan"] = f"""
WITH mcounts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
mtot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM mcounts),
mtgt(lang, target_micro) AS (VALUES {_tgt_vals})
SELECT c.lang, c.n_docs,
       CAST(coalesce(t.target_micro, 0) AS BIGINT) AS target_micro,
       CAST(coalesce(t.target_micro, 0) * (SELECT total FROM mtot)
            // c.n_docs AS BIGINT) AS weight_micro,
       CAST(c.n_docs * (coalesce(t.target_micro, 0)
                        * (SELECT total FROM mtot) // c.n_docs)
            // 1000000 AS BIGINT) AS expected_docs
FROM mcounts c LEFT JOIN mtgt t USING (lang)
""".strip()

    # Mixture materialization (kgspark.textops.mixture_apply): whole-copy
    # repeats + deterministic stochastic rounding on md5(doc_id:salt).
    from .textops import MIXTURE_MICRO, MIXTURE_SALT

    _hsel = _H60.format(x=f"(CAST(doc_id AS VARCHAR) || ':{MIXTURE_SALT}')")
    q["docs_mixture_apply"] = f"""
WITH xcounts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY lang
),
xtot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total FROM xcounts),
xtgt(lang, target_micro) AS (VALUES {_tgt_vals}),
xw AS (
  SELECT c.lang,
         CAST(coalesce(t.target_micro, 0) * (SELECT total FROM xtot)
              // c.n_docs AS BIGINT) AS weight_micro
  FROM xcounts c LEFT JOIN xtgt t USING (lang)
),
xn AS (
  SELECT d.doc_id, d.lang,
         CAST(w.weight_micro // {MIXTURE_MICRO}
              + CASE WHEN {_hsel} % {MIXTURE_MICRO}
                          < w.weight_micro % {MIXTURE_MICRO}
                     THEN 1 ELSE 0 END AS BIGINT) AS n_copies
  FROM documents d JOIN xw w USING (lang)
)
SELECT doc_id, lang, CAST(unnest(range(n_copies)) AS BIGINT) AS copy_idx
FROM xn WHERE n_copies > 0
""".strip()

    # Deterministic split (kgspark.textops.train_split): the md5-derived
    # 60-bit content hash mod 100 is the engine-portable bucket.
    q["docs_train_split"] = f"""
SELECT 'doc-' || sha256(trim(text)) AS kg_doc_id,
       lang,
       h % 100 AS bucket,
       CASE WHEN h % 100 < 80 THEN 'train'
            WHEN h % 100 < 90 THEN 'val'
            ELSE 'test' END AS split,
       (h % 100) % 10 = 0 AS in_10pct_sample
FROM (
  SELECT *, {_H60.format(x="trim(text)")} AS h
  FROM documents WHERE length(trim(text)) > 0
)
""".strip()

    # Decontamination (kgspark.textops.contamination): distinct 8-grams per
    # side, eval-wins resolution for content duplicates split across sides,
    # one gram-key join, count-distinct per train doc.
    q["dedup_contamination"] = f"""
WITH {TOK},
doc_eval AS (
  -- doc-granularity, from ALL nonempty docs: a train doc shorter than the
  -- gram width has zero grams but still owes its contaminated=false row
  SELECT kg_doc_id,
         max(CASE WHEN src_row % 50 = 0 THEN 1 ELSE 0 END) = 1 AS is_eval
  FROM tok GROUP BY kg_doc_id
),
g AS (
  SELECT DISTINCT kg_doc_id, gram
  FROM (
    SELECT kg_doc_id,
           unnest(list_distinct(list_transform(range(len(toks) - 7),
               i -> array_to_string(toks[i + 1 : i + 8], ' ')))) AS gram
    FROM tok
  )
),
grams AS (
  SELECT g.kg_doc_id, g.gram, de.is_eval
  FROM g JOIN doc_eval de USING (kg_doc_id)
),
ev AS (SELECT DISTINCT gram FROM grams WHERE is_eval),
tr AS (SELECT kg_doc_id, gram FROM grams WHERE NOT is_eval),
hits AS (
  SELECT kg_doc_id, count(*) AS n FROM tr JOIN ev USING (gram)
  GROUP BY kg_doc_id
),
td AS (SELECT kg_doc_id FROM doc_eval WHERE NOT is_eval)
SELECT td.kg_doc_id,
       CAST(coalesce(hits.n, 0) AS BIGINT) AS n_shared_grams,
       coalesce(hits.n, 0) > 0 AS contaminated
FROM td LEFT JOIN hits USING (kg_doc_id)
""".strip()

    # PII scrub (kgspark.textops.pii_scan): sequential count+redact chain —
    # each stage counts against, then rewrites, the previous stage's text,
    # byte-identical patterns on both engines (Java-regex ∩ RE2 subset).
    # DuckDB regexp_replace needs the 'g' flag (Spark's is always global).
    pii_ctes, pii_carry = [], []
    prev = "tok"
    prev_text = "ttext"
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, start=1):
        carry = ", ".join(pii_carry + [""]) if pii_carry else ""
        pii_ctes.append(
            f"p{i} AS (\n"
            f"  SELECT kg_doc_id, {carry}"
            f"len(regexp_extract_all({prev_text}, '{pat}')) AS n_{name},\n"
            f"         regexp_replace({prev_text}, '{pat}', '{repl}', 'g') AS t\n"
            f"  FROM {prev}\n)"
        )
        pii_carry.append(f"n_{name}")
        prev, prev_text = f"p{i}", "t"
    pii_sum = " + ".join(pii_carry)
    pii_casts = ",\n       ".join(
        f"CAST(n_{name} AS BIGINT) AS n_{name}" for name, _, _ in PII_PATTERNS
    )
    q["text_pii_scan"] = (
        f"WITH {TOK},\n"
        + ",\n".join(pii_ctes)
        + f"\nSELECT kg_doc_id,\n       {pii_casts},\n"
        f"       ({pii_sum}) > 0 AS has_pii,\n"
        f"       sha256(t) AS redacted_sha256\nFROM {prev}"
    )

    # PMI collocations (kgspark.textops.collocations): the row set is
    # integer-determined (n_pair >= 5); totals and the PMI ln ride the same
    # arithmetic on both engines.  Bigrams re-derived with 1-based inclusive
    # slices; B counts every bigram occurrence (len-1 per doc with >=2 toks).
    # Bigram LM quality score (kgspark.textops.lm_score): Laplace-smoothed
    # self-corpus bigram model; per-bigram ln rounded to 6 FIRST, per-row
    # sum in exact DECIMAL(38,12) (internal only — output stays
    # BIGINT/DOUBLE under the dtype gate), then mean + exp of the rounded
    # mean.  Per-row semantics via src_row.
    q["text_lm_score"] = f"""
WITH {TOK},
lmrows AS (SELECT src_row AS k, kg_doc_id, toks FROM tok),
lmbg AS (
  SELECT k, toks[i + 1] AS w1, toks[i + 2] AS w2
  FROM lmrows, unnest(range(len(toks) - 1)) AS r(i)
),
lmuni AS (
  SELECT w1, count(*) AS n_w1
  FROM (SELECT unnest(toks) AS w1 FROM lmrows) GROUP BY w1
),
lmbig AS (SELECT w1, w2, count(*) AS n_pair FROM lmbg GROUP BY w1, w2),
lmv AS (
  SELECT count(DISTINCT w) AS v
  FROM (SELECT unnest(toks) AS w FROM lmrows)
),
lmmodel AS (
  SELECT lmbig.w1, lmbig.w2,
         round(ln(CAST(n_pair + 1 AS DOUBLE) / (n_w1 + v)), 6) AS lp
  FROM lmbig JOIN lmuni USING (w1), lmv
),
lmsc AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_bigrams,
         sum(CAST(lp AS DECIMAL(38,12))) AS lps
  FROM lmbg JOIN lmmodel USING (w1, w2) GROUP BY k
)
SELECT r.kg_doc_id,
       CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       round(CAST(s.lps AS DOUBLE) / s.n_bigrams, 6) AS avg_logprob,
       round(exp(-round(CAST(s.lps AS DOUBLE) / s.n_bigrams, 6)), 6)
         AS ppl_proxy
FROM lmrows r LEFT JOIN lmsc s ON r.k = s.k
""".strip()

    # Exact-substring duplicate spans (kgspark.textops.duplicate_spans):
    # cross-doc duplicated gram positions merged gaps-and-islands style.
    # The oracle builds grams by list slicing and restates the islands with
    # a running-max window — independent of the Spark zip-of-slices gram
    # construction.
    _DN = 8
    q["dedup_duplicate_spans"] = f"""
WITH {TOK},
dd AS (SELECT DISTINCT kg_doc_id, toks FROM tok),
g AS (
  SELECT kg_doc_id, i AS pos,
         array_to_string(toks[i + 1:i + {_DN}], ' ') AS gram
  FROM dd, unnest(range(len(toks) - {_DN - 1})) AS r(i)
),
dupg AS (
  SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT kg_doc_id) >= 2
),
hits AS (SELECT g.kg_doc_id, g.pos FROM g JOIN dupg USING (gram)),
isl AS (
  SELECT kg_doc_id, pos,
    CASE WHEN pos > coalesce(
        max(pos) OVER (PARTITION BY kg_doc_id ORDER BY pos
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        -{_DN + 1}) + {_DN}
      THEN 1 ELSE 0 END AS brk
  FROM hits
),
sp AS (
  SELECT kg_doc_id, pos,
         sum(brk) OVER (PARTITION BY kg_doc_id ORDER BY pos) AS span_id
  FROM isl
)
SELECT kg_doc_id,
       CAST(min(pos) AS INT) AS span_start,
       CAST(max(pos) + {_DN - 1} AS INT) AS span_end,
       CAST(max(pos) - min(pos) + {_DN} AS INT) AS span_len,
       CAST(count(*) AS BIGINT) AS n_grams
FROM sp GROUP BY kg_doc_id, span_id
""".strip()

    q["text_collocations"] = f"""
WITH {TOK},
uni AS (
  SELECT w, count(*) AS n_w FROM (SELECT unnest(toks) AS w FROM tok) GROUP BY w
),
big AS (
  SELECT w1, w2, count(*) AS n_pair FROM (
    SELECT toks[i + 1] AS w1, toks[i + 2] AS w2
    FROM tok, unnest(range(len(toks) - 1)) AS r(i)
  ) GROUP BY w1, w2
  HAVING count(*) >= 5
),
tot AS (SELECT CAST(sum(n_w) AS DOUBLE) AS t_tokens FROM uni),
btot AS (
  SELECT CAST(sum(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END) AS DOUBLE)
           AS b_pairs
  FROM tok
)
SELECT big.w1, big.w2,
       CAST(big.n_pair AS BIGINT) AS n_pair,
       CAST(u1.n_w AS BIGINT) AS n_w1,
       CAST(u2.n_w AS BIGINT) AS n_w2,
       round(ln((big.n_pair / btot.b_pairs) /
                ((u1.n_w / tot.t_tokens) * (u2.n_w / tot.t_tokens))), 6) AS pmi
FROM big
JOIN uni u1 ON big.w1 = u1.w
JOIN uni u2 ON big.w2 = u2.w, tot, btot
""".strip()

    # TF-IDF top-k (kgspark.textops.tfidf_topk): ranking is integer-only
    # (c desc, df asc, term asc) so the selected row set is engine-exact;
    # the float score column uses the same ln/round arithmetic on both
    # sides.  n_docs is the nonempty-row count (per-row semantics).
    q["text_tfidf_topk"] = f"""
WITH {TOK},
tf AS (
  SELECT src_row, kg_doc_id, n_tokens, term, count(*) AS c
  FROM (
    SELECT src_row, kg_doc_id, len(toks) AS n_tokens, unnest(toks) AS term
    FROM tok
  )
  GROUP BY src_row, kg_doc_id, n_tokens, term
),
dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
nd AS (SELECT count(*) AS n_docs FROM tok),
r AS (
  SELECT tf.*, dfx.df, nd.n_docs,
         row_number() OVER (
           PARTITION BY src_row ORDER BY c DESC, df ASC, term ASC
         ) AS rank
  FROM tf JOIN dfx USING (term), nd
)
SELECT kg_doc_id,
       CAST(rank AS BIGINT) AS rank,
       term,
       CAST(c AS BIGINT) AS term_count,
       CAST(df AS BIGINT) AS doc_freq,
       round((c * 1.0 / n_tokens) *
             (ln((n_docs + 1) * 1.0 / (df + 1)) + 1), 6) AS tfidf
FROM r WHERE rank <= 3
""".strip()

    # BM25 top-k retrieval (kgspark.textops.bm25_topk): the query is
    # corpus-derived (top-5 df terms of >= 5 chars, df desc / term asc) so
    # both engines score the SAME deterministic query; ranking and the
    # top-k cut use the 6-decimal ROUNDED score + kg_doc_id tie-break.
    # avgdl is an exact integer-sum ratio — bit-identical across engines.
    from .textops import (
        BM25_B,
        BM25_K1,
        BM25_MIN_TERM_CHARS,
        BM25_QUERY_TERMS,
        BM25_TOPK,
    )

    q["text_bm25_topk"] = f"""
WITH {TOK},
bd0 AS (SELECT src_row, kg_doc_id, len(toks) AS dl, toks FROM tok),
btf AS (
  SELECT src_row, kg_doc_id, dl, term, count(*) AS c
  FROM (SELECT src_row, kg_doc_id, dl, unnest(toks) AS term FROM bd0)
  GROUP BY ALL
),
bdf AS (SELECT term, count(*) AS df FROM btf GROUP BY term),
bqt AS (
  SELECT term, df FROM bdf WHERE length(term) >= {BM25_MIN_TERM_CHARS}
  ORDER BY df DESC, term ASC LIMIT {BM25_QUERY_TERMS}
),
bst AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM bd0),
bsc AS (
  SELECT src_row, kg_doc_id,
         CAST(count(*) AS BIGINT) AS n_hit_terms,
         round(sum(
           ln(1 + (n_docs - df + 0.5) / (df + 0.5))
           * (c * ({BM25_K1} + 1.0))
           / (c + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl / avgdl))
         ), 6) AS bm25
  FROM btf JOIN bqt USING (term), bst
  GROUP BY src_row, kg_doc_id
)
SELECT CAST(row_number() OVER (ORDER BY bm25 DESC, kg_doc_id ASC)
            AS BIGINT) AS rank,
       kg_doc_id, n_hit_terms, bm25
FROM bsc ORDER BY bm25 DESC, kg_doc_id ASC LIMIT {BM25_TOPK}
""".strip()

    stop_list = ", ".join(f"'{s}'" for s in EN_STOPWORDS)
    q["text_quality"] = f"""
WITH {TOK}, d AS (
  SELECT kg_doc_id,
         len(toks) AS n_tokens,
         len(list_filter(toks, x -> x IN ({stop_list}))) AS n_stop,
         length(ttext) AS trim_chars,
         list_filter(list_transform(string_split(ttext, chr(10)), x -> trim(x)),
                     x -> x <> '') AS lns,
         CASE WHEN len(toks) >= 2
              THEN list_transform(range(1, len(toks)),
                                  i -> toks[i] || ' ' || toks[i + 1])
              ELSE [] END AS bis
  FROM tok
), r AS (
  SELECT *,
         CASE WHEN len(lns) > 0
              THEN round((len(lns) - len(list_distinct(lns))) * 1.0 / len(lns), 6)
              ELSE 0.0 END AS dup_line_ratio,
         CASE WHEN len(bis) > 0
              THEN round((len(bis) - len(list_distinct(bis))) * 1.0 / len(bis), 6)
              ELSE 0.0 END AS dup_bigram_ratio
  FROM d
)
SELECT kg_doc_id, n_tokens,
       round(trim_chars * 1.0 / n_tokens, 6) AS mean_token_len,
       round(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
       dup_line_ratio, dup_bigram_ratio,
       (n_tokens >= 10 AND n_stop * 1.0 / n_tokens >= 0.05
        AND dup_line_ratio <= 0.3 AND dup_bigram_ratio <= 0.2) AS passes_quality,
       CASE WHEN round(n_stop * 1.0 / n_tokens, 6) >= 0.05
            THEN 'en' ELSE 'unknown' END AS predicted_lang
FROM r
""".strip()

    # Readability (kgspark.textops.readability): independent restatement of
    # the letter-run / terminator-run / vowel-group proxies; both scores are
    # computed with the same association Spark uses so the doubles are
    # bit-identical, then rounded to 6.
    q["text_readability"] = """
WITH w AS (
  SELECT 'doc-' || sha256(trim(text)) AS kg_doc_id,
         regexp_extract_all(text, '[A-Za-z]+') AS words,
         greatest(1, len(regexp_extract_all(text, '[.!?]+'))) AS n_sent
  FROM documents
  WHERE length(trim(text)) > 0
), s AS (
  SELECT kg_doc_id,
         CAST(len(words) AS BIGINT) AS n_words,
         CAST(n_sent AS BIGINT) AS n_sentences,
         CAST(list_aggregate(
             list_transform(words,
                 x -> greatest(1, len(regexp_extract_all(lower(x), '[aeiouy]+')))),
             'sum') AS BIGINT) AS n_syllables
  FROM w WHERE len(words) > 0
)
SELECT kg_doc_id, n_words, n_sentences, n_syllables,
       round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                     - 84.6 * (n_syllables * 1.0 / n_words), 6) AS flesch_ease,
       round(0.39 * (n_words * 1.0 / n_sentences)
             + 11.8 * (n_syllables * 1.0 / n_words) - 15.59, 6) AS fk_grade
FROM s
""".strip()

    q["dedup_minhash_signatures"] = f"""
WITH {TOK},
{_SHINGLES},
{_sig_sql()}
SELECT * FROM sig
""".strip()

    q["dedup_lsh_pairs"] = f"""
WITH {TOK},
{_SHINGLES},
{_sig_sql()},
{_bands_sql()}
SELECT DISTINCT a.kg_doc_id AS doc_a, b.kg_doc_id AS doc_b
FROM bands a
JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
            AND a.kg_doc_id < b.kg_doc_id
""".strip()

    # W3 parity: sort-field whitelist, page-size clamp (5→10, 300→200),
    # file_path lowercased with missing → 'no-file-path', id-asc tiebreak.
    q["docs_paginated"] = """
SELECT 'by_id_asc_p2' AS page_spec, doc_id, source, n_chars, row_num FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (ORDER BY doc_id ASC) AS row_num
  FROM documents
) WHERE row_num BETWEEN 11 AND 20
UNION ALL
SELECT 'by_path_desc_p1' AS page_spec, doc_id, source, n_chars, row_num FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (
           ORDER BY lower(coalesce(source, 'no-file-path')) DESC, doc_id ASC
         ) AS row_num
  FROM documents
) WHERE row_num BETWEEN 1 AND 200
""".strip()

    q["events_sessionize"] = """
WITH gapped AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sid AS (
  SELECT user_id, ts, value,
         -- DuckDB types an un-cast integer SUM as HUGEINT (INT128); every
         -- client path renders HUGEINT differently from Spark's long under
         -- some formatter ("3.0" vs "3").  session_idx is an OUTPUT column
         -- here (unlike events_session_windows, where it's only a GROUP BY
         -- key), so it must be BIGINT explicitly.
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
           AS session_idx
  FROM gapped
)
SELECT user_id, session_idx,
       count(*) AS n_events,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end,
       CAST(round(sum(CAST(value AS DECIMAL(38,9))), 6) AS DOUBLE) AS total_value
FROM sid
GROUP BY user_id, session_idx
""".strip()

    # Native session_window semantics: a NEW session starts when the gap is
    # >= 30 min (Spark's window end is exclusive: an event landing exactly
    # at prev_ts + gap does NOT merge) — one strictness notch different
    # from the lag/cumsum sessionize above (>).
    q["events_session_windows"] = """
WITH gapped AS (
  SELECT user_id, event_id, ts, value,
         CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sid AS (
  SELECT user_id, event_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS session_idx
  FROM gapped
)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_last,
       count(*) AS n_events,
       CAST(round(sum(CAST(value AS DECIMAL(38,9))), 6) AS DOUBLE) AS total_value
FROM sid
GROUP BY user_id, session_idx
""".strip()

    # Sliding windows (1h window / 30min slide): every event belongs to the
    # two epoch-aligned windows [start, start+1h) with start = hour-aligned
    # or half-hour-aligned — exactly Spark's F.window assignment.
    q["events_sliding_windows"] = """
WITH slid AS (
  SELECT event_type, ts,
         to_timestamp(CAST(floor((epoch(ts) - 1800 * k) / 3600) AS BIGINT) * 3600 + 1800 * k) AS ws
  FROM events CROSS JOIN (VALUES (0), (1)) AS offs(k)
)
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(ws + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       event_type,
       count(*) AS n_events
FROM slid
GROUP BY ws, event_type
""".strip()

    # the salted two-path join must be EXACTLY the plain inner join
    q["events_salted_join"] = """
WITH dim AS (
  SELECT event_type, count(*) AS n_type_events FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type, e.value, d.n_type_events
FROM events e JOIN dim d USING (event_type)
""".strip()

    q["events_props_extract"] = """
SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS prop_k FROM events
""".strip()

    q["events_topk_by_type"] = """
SELECT event_type, event_id, value, rank FROM (
  SELECT event_type, event_id, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value DESC, event_id ASC) AS rank
  FROM events
) WHERE rank <= 3
""".strip()

    # Conversion funnel (kgspark.events.funnel): step CTEs mirror the
    # strictly-after min-pick; per-CTE user_id is unique, so the final
    # left joins key on user_id alone.  Null step timestamps render NULL
    # through strftime on both engines.
    q["events_funnel"] = """
WITH v AS (
  SELECT user_id, min(ts) AS ts1 FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.ts1, min(e.ts) AS ts2
  FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.ts1
  GROUP BY e.user_id, v.ts1
),
p AS (
  SELECT e.user_id, c.ts1, c.ts2, min(e.ts) AS ts3
  FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.ts2
  GROUP BY e.user_id, c.ts1, c.ts2
)
SELECT v.user_id,
       strftime(v.ts1, '%Y-%m-%d %H:%M:%S') AS step1_ts,
       strftime(c.ts2, '%Y-%m-%d %H:%M:%S') AS step2_ts,
       strftime(p.ts3, '%Y-%m-%d %H:%M:%S') AS step3_ts,
       CAST(1 + (CASE WHEN c.ts2 IS NULL THEN 0 ELSE 1 END)
              + (CASE WHEN p.ts3 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS steps_completed,
       p.ts3 IS NOT NULL AS converted
FROM v
LEFT JOIN c ON v.user_id = c.user_id
LEFT JOIN p ON v.user_id = p.user_id
""".strip()

    # Value quantiles (kgspark.events.value_quantiles): quantile_cont is
    # DuckDB's exact (n-1)*p linear interpolation — the same formula as
    # Spark's exact `percentile`.
    q["events_value_quantiles"] = """
SELECT event_type,
       count(*) AS n_events,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events GROUP BY event_type
""".strip()

    # Cohort retention (kgspark.events.retention_cohorts): restated with
    # window-free SQL aggregates over CAST(ts AS DATE) — timezone-free on
    # both engines for NTZ timestamps.
    q["events_retention"] = """
WITH first AS (
  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_date
  FROM events GROUP BY user_id
),
acts AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
hits AS (
  SELECT f.cohort_date,
         CAST(datediff('day', f.cohort_date, a.day) AS INT) AS day_offset,
         a.user_id
  FROM acts a JOIN first f USING (user_id)
  WHERE datediff('day', f.cohort_date, a.day) <= 7
),
sizes AS (
  SELECT cohort_date, CAST(count(*) AS BIGINT) AS n_users
  FROM first GROUP BY cohort_date
)
SELECT h.cohort_date, h.day_offset,
       CAST(count(DISTINCT h.user_id) AS BIGINT) AS n_active,
       s.n_users,
       round(count(DISTINCT h.user_id) * 1.0 / s.n_users, 6) AS retention
FROM hits h JOIN sizes s USING (cohort_date)
GROUP BY h.cohort_date, h.day_offset, s.n_users
""".strip()

    # As-of join (kgspark.events.asof_join): DuckDB has the operator
    # NATIVELY — the oracle is a literal ASOF LEFT JOIN, about as
    # independent from the Spark carry-forward-window formulation as a
    # restatement can get.  The right side collapses to max(event_id) per
    # (user, ts) first so ties resolve identically on both engines.
    q["events_asof_join"] = """
WITH c AS (
  SELECT user_id, ts, max(event_id) AS right_id
  FROM events WHERE event_type = 'click' GROUP BY user_id, ts
),
p AS (
  SELECT user_id, ts, event_id AS left_id
  FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.left_id, c.right_id,
       CAST(epoch_us(p.ts) - epoch_us(c.ts) AS BIGINT) AS gap_us
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
""".strip()

    # Range join (kgspark.events.range_join): the oracle is the naive
    # time-inequality join the bucketed Spark composition must reproduce.
    q["events_range_join"] = """
SELECT l.user_id,
       l.event_id AS left_id,
       r.event_id AS right_id,
       CAST(epoch_us(r.ts) - epoch_us(l.ts) AS BIGINT) AS delta_us
FROM events l JOIN events r
  ON l.user_id = r.user_id
 AND l.event_type = 'purchase' AND r.event_type = 'error'
 AND abs(epoch_us(r.ts) - epoch_us(l.ts)) <= CAST(3600 AS BIGINT) * 1000000
""".strip()

    q["events_hourly"] = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
       event_type,
       count(*) AS n_events,
       min(value) AS min_value,
       max(value) AS max_value
FROM events
GROUP BY 1, 2
""".strip()

    # Count-spike detection (kgspark.events.anomaly_hours): pure integer
    # cross-multiplied flag, RANGE frame on the hour epoch.  count/sum over
    # a window return BIGINT/HUGEINT in DuckDB — cast both (HUGEINT ban).
    from .events import ANOMALY_FACTOR, ANOMALY_WINDOW_S

    q["events_anomaly"] = f"""
WITH ahourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
awin AS (
  SELECT event_type, h, n_events,
         CAST(coalesce(count(*) OVER w, 0) AS BIGINT) AS trailing_hours,
         CAST(coalesce(sum(n_events) OVER w, 0) AS BIGINT) AS trailing_sum
  FROM ahourly
  WINDOW w AS (PARTITION BY event_type
               ORDER BY CAST(epoch(h) AS BIGINT)
               RANGE BETWEEN {ANOMALY_WINDOW_S} PRECEDING
                         AND 3600 PRECEDING)
)
SELECT event_type, strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, n_events,
       trailing_hours, trailing_sum,
       trailing_hours > 0
       AND n_events * trailing_hours > {ANOMALY_FACTOR} * trailing_sum
       AS spike
FROM awin
""".strip()

    # DAU/WAU/stickiness rollup (kgspark.events.rolling_active): the oracle
    # states the WAU spec with the NAIVE inequality join (day BETWEEN d-6
    # AND d) — the Spark side decomposes it into a bounded explode + hash
    # aggregate; parity proves the decomposition.  DuckDB date - int is
    # whole-day arithmetic, NTZ-safe under both engines' pinned UTC.
    from .events import STICKINESS_MICRO

    q["events_rolling_active"] = f"""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
days AS (SELECT DISTINCT day FROM ud),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
wau AS (
  SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
  FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
  GROUP BY 1
)
SELECT strftime(dau.day, '%Y-%m-%d') AS day, dau.dau, wau.wau,
       CAST(dau.dau * {STICKINESS_MICRO} // wau.wau AS BIGINT)
       AS stickiness_micro
FROM dau JOIN wau USING (day)
""".strip()

    # Per-user lifetime rollup (kgspark.events.user_lifetime): one fold;
    # datediff restated as whole-day date subtraction, NTZ dates are
    # timezone-free under the pinned-UTC sessions on both engines.
    q["events_user_lifetime"] = """
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS first_seen,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS last_seen,
       CAST(date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE))
            AS BIGINT) AS lifetime_days,
       CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_active_days,
       CAST(count(*) AS BIGINT) AS n_events
FROM events GROUP BY user_id
""".strip()

    # Markov transition rollup (kgspark.events.transitions): lead() under
    # the sessionize total order, integer row-normalized probabilities.
    from .events import TRANSITION_MICRO

    q["events_transitions"] = f"""
WITH tp AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events
),
tc AS (
  SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n_transitions
  FROM tp WHERE to_type IS NOT NULL GROUP BY 1, 2
),
tt AS (
  SELECT from_type, CAST(sum(n_transitions) AS BIGINT) AS n_from
  FROM tc GROUP BY 1
)
SELECT tc.from_type, tc.to_type, tc.n_transitions, tt.n_from,
       CAST(tc.n_transitions * {TRANSITION_MICRO} // tt.n_from AS BIGINT)
       AS p_micro
FROM tc JOIN tt USING (from_type)
""".strip()

    q["text_bpe_token_counts"] = r"""
SELECT 'doc-' || sha256(trim(text)) AS kg_doc_id,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpe_tokens,
       len(list_distinct(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS n_distinct_bpe_tokens
FROM documents
WHERE length(trim(text)) > 0
""".strip()

    # simhash: 32 bit-vote folds over distinct-token 60-bit hashes
    _hs = _H60.format(x="x")
    bit_terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> (h >> {b}) & 1 = 1)) - len(hs) > 0 "
        f"THEN CAST({2 ** b} AS BIGINT) ELSE 0 END)"
        for b in range(32)
    )
    q["text_simhash"] = f"""
WITH {TOK},
h AS (
  SELECT kg_doc_id, list_transform(list_distinct(toks), x -> {_hs}) AS hs
  FROM tok
)
SELECT kg_doc_id, {bit_terms} AS simhash FROM h
""".strip()

    # SimHash hamming profile (kgspark.textops.simhash_hamming_profile):
    # the oracle restates the SAME pigeonhole banding (a naive cross-join
    # is O(n²) at the slow-tier scale) with its own band extraction —
    # arithmetic (// and %) instead of the kernel's shift/mask bit ops.
    q["dedup_simhash_profile"] = f"""
WITH {TOK},
shh AS (
  SELECT kg_doc_id, list_transform(list_distinct(toks), x -> {_hs}) AS hs
  FROM tok
),
shf AS (SELECT DISTINCT kg_doc_id, {bit_terms} AS simhash FROM shh),
shx AS (
  SELECT kg_doc_id, simhash, b.band,
         -- integer divisor: DuckDB ** returns DOUBLE, and a fractional
         -- quotient's % keeps the fraction (bands would never equal)
         (simhash // CAST(power(256, b.band) AS BIGINT)) % 256 AS val
  FROM shf, (SELECT unnest(range(4)) AS band) b
),
shp AS (
  SELECT DISTINCT l.kg_doc_id AS a, r.kg_doc_id AS bq,
         bit_count(CAST(xor(l.simhash, r.simhash) AS BIGINT)) AS hd
  FROM shx l JOIN shx r
    ON l.band = r.band AND l.val = r.val AND l.kg_doc_id < r.kg_doc_id
  WHERE bit_count(CAST(xor(l.simhash, r.simhash) AS BIGINT)) <= 3
)
SELECT CAST(hd AS INT) AS hamming_distance,
       CAST(count(*) AS BIGINT) AS n_pairs
FROM shp GROUP BY hd
""".strip()

    q["dedup_jaccard_pairs"] = f"""
WITH {TOK},
{_SHINGLES},
{_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.kg_doc_id AS doc_a, b.kg_doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.kg_doc_id < b.kg_doc_id
)
SELECT doc_a, doc_b,
       round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
             len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
FROM cand
JOIN sh sa ON sa.kg_doc_id = doc_a
JOIN sh sb ON sb.kg_doc_id = doc_b
""".strip()

    # Asymmetric shingle containment (kgspark.textops.containment_pairs):
    # the capped inverted-index spec restated relationally — postings are
    # DISTINCT (kg_doc_id, shingle) so duplicate-content rows collapse,
    # the df cap prunes the intersection universe, denominators are the
    # FULL per-doc shingle counts, both directed containments in integer
    # micro units.
    from .textops import CONTAINMENT_MAX_DF, CONTAINMENT_MICRO

    q["dedup_containment_pairs"] = f"""
WITH {TOK},
{_SHINGLES},
post AS (
  SELECT DISTINCT kg_doc_id, s
  FROM (SELECT kg_doc_id, unnest(shingles) AS s FROM sh)
),
sz AS (
  SELECT DISTINCT kg_doc_id, CAST(len(shingles) AS BIGINT) AS n_sh FROM sh
),
rare AS (
  SELECT s FROM (SELECT s, count(*) AS df FROM post GROUP BY s)
  WHERE df <= {CONTAINMENT_MAX_DF}
),
kept AS (SELECT post.* FROM post JOIN rare USING (s)),
pr AS (
  SELECT l.kg_doc_id AS doc_a, r.kg_doc_id AS doc_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM kept l JOIN kept r ON l.s = r.s AND l.kg_doc_id < r.kg_doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, n_shared,
       CAST(n_shared * {CONTAINMENT_MICRO} // sa.n_sh AS BIGINT)
       AS a_in_b_micro,
       CAST(n_shared * {CONTAINMENT_MICRO} // sb.n_sh AS BIGINT)
       AS b_in_a_micro
FROM pr
JOIN sz sa ON sa.kg_doc_id = doc_a
JOIN sz sb ON sb.kg_doc_id = doc_b
WHERE greatest(n_shared * {CONTAINMENT_MICRO} // sa.n_sh,
               n_shared * {CONTAINMENT_MICRO} // sb.n_sh) >= 500000
""".strip()

    # Near-dup keep-list (kgspark.textops.dedup_clusters): the verified pair
    # set is restated exactly as in dedup_jaccard_pairs (filtered at the
    # ROUNDED score, matching the Spark filter), then transitively closed
    # with a recursive CTE (set-semantics UNION terminates it) — an
    # independent formulation of the hash-min component loop.
    q["dedup_clusters"] = f"""
WITH RECURSIVE {TOK},
{_SHINGLES},
{_sig_sql()},
{_bands_sql()},
cand AS (
  SELECT DISTINCT a.kg_doc_id AS doc_a, b.kg_doc_id AS doc_b
  FROM bands a
  JOIN bands b ON a.band = b.band AND a.band_hash = b.band_hash
              AND a.kg_doc_id < b.kg_doc_id
),
vp AS (
  SELECT doc_a, doc_b FROM (
    SELECT doc_a, doc_b,
           round(len(list_intersect(sa.shingles, sb.shingles)) * 1.0 /
                 len(list_distinct(list_concat(sa.shingles, sb.shingles))), 6) AS jaccard
    FROM cand
    JOIN sh sa ON sa.kg_doc_id = doc_a
    JOIN sh sb ON sb.kg_doc_id = doc_b
  ) WHERE jaccard >= 0.5
),
und AS (SELECT doc_a AS a, doc_b AS b FROM vp UNION SELECT doc_b, doc_a FROM vp),
reach AS (
  SELECT a AS node, b AS r FROM und
  UNION
  SELECT reach.node, und.b AS r FROM reach JOIN und ON reach.r = und.a
),
comp AS (SELECT node, least(node, min(r)) AS cluster_id FROM reach GROUP BY node),
alld AS (SELECT DISTINCT kg_doc_id FROM tok)
SELECT alld.kg_doc_id,
       coalesce(comp.cluster_id, alld.kg_doc_id) AS cluster_id,
       coalesce(comp.cluster_id, alld.kg_doc_id) = alld.kg_doc_id AS is_representative
FROM alld LEFT JOIN comp ON alld.kg_doc_id = comp.node
""".strip()

    _cos = """
round(
  list_aggregate(list_transform(range(len(a.embedding)),
      i -> CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE)), 'sum')
  / (sqrt(list_aggregate(list_transform(range(len(a.embedding)),
        i -> CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE)), 'sum'))
   * sqrt(list_aggregate(list_transform(range(len(b.embedding)),
        i -> CAST(b.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE)), 'sum'))),
6)
""".strip()
    q["dedup_embedding_pairs"] = f"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_cos} AS cosine
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE {_cos} >= 0.4
""".strip()

    # ---- LSH oracles: the random-hyperplane buckets are DETERMINISTIC
    # (seeded md5-derived planes, vecops.make_planes), so the "approximate"
    # operators are exactly SQL-expressible: re-derive every vector's sign
    # bucket from the same plane literals, take pairs within Hamming<=1
    # (home bucket + the multiprobe-1 bit flips), score with the same
    # left-fold cosine.  This upgrades both LSH queries from rows-only to
    # fully value-checked.

    def _planes_cte(n_planes: int, dim: int = 64) -> str:
        from .vecops import make_planes

        cols = ", ".join(
            "[" + ", ".join(repr(v) for v in p) + f"] AS p{i}"
            for i, p in enumerate(make_planes(dim, n_planes))
        )
        return f"planes AS (SELECT {cols})"

    def _bucket_expr(n_planes: int) -> str:
        terms = []
        for i in range(n_planes):
            dot = (
                "list_aggregate(list_transform(range(len(embedding)), "
                f"i -> CAST(embedding[i + 1] AS DOUBLE) * p{i}[i + 1]), 'sum')"
            )
            terms.append(
                f"(CASE WHEN {dot} >= 0 THEN CAST({2 ** i} AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END)"
            )
        return " + ".join(terms)

    _nrm = (
        "sqrt(list_aggregate(list_transform(range(len(embedding)), "
        "i -> CAST(embedding[i + 1] AS DOUBLE) * CAST(embedding[i + 1] AS DOUBLE)), 'sum'))"
    )
    q["dedup_embedding_pairs_lsh"] = f"""
WITH {_planes_cte(6)},
n AS (
  SELECT vec_id, embedding, {_nrm} AS nrm, {_bucket_expr(6)} AS bucket
  FROM embeddings CROSS JOIN planes
)
SELECT vec_a, vec_b, cosine FROM (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_aggregate(list_transform(range(len(a.embedding)),
               i -> CAST(a.embedding[i + 1] AS DOUBLE) * CAST(b.embedding[i + 1] AS DOUBLE)), 'sum')
               / (a.nrm * b.nrm), 6) AS cosine
  FROM n a JOIN n b
    ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1
) WHERE cosine >= 0.4
""".strip()

    q["ann_lsh_topk"] = f"""
WITH {_planes_cte(8)},
n AS (
  SELECT vec_id, embedding, {_nrm} AS nrm, {_bucket_expr(8)} AS bucket
  FROM embeddings CROSS JOIN planes
),
q AS (
  SELECT vec_id AS query_id, embedding AS q_vec, nrm AS q_nrm, bucket AS q_bucket
  FROM n WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(list_aggregate(list_transform(range(len(c.embedding)),
               i -> CAST(q.q_vec[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)), 'sum')
               / (q.q_nrm * c.nrm), 6) AS cosine
  FROM n c JOIN q
    ON bit_count(xor(q.q_bucket, c.bucket)) <= 1 AND c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""".strip()

    # IVF oracle: same deterministic coarse quantizer re-derived in SQL —
    # centroids are the n_cells smallest-id corpus vectors, assignment is
    # argmax cosine (ties -> smallest centroid id), queries probe their
    # nprobe best cells, exact scoring within probed cells.
    _ccos = """
list_aggregate(list_transform(range(len(e.embedding)),
    i -> CAST(e.embedding[i + 1] AS DOUBLE) * CAST(c.cvec[i + 1] AS DOUBLE)), 'sum')
/ (sqrt(list_aggregate(list_transform(range(len(e.embedding)),
      i -> CAST(e.embedding[i + 1] AS DOUBLE) * CAST(e.embedding[i + 1] AS DOUBLE)), 'sum'))
 * sqrt(list_aggregate(list_transform(range(len(c.cvec)),
      i -> CAST(c.cvec[i + 1] AS DOUBLE) * CAST(c.cvec[i + 1] AS DOUBLE)), 'sum')))
""".strip()
    _qcos = """
round(
  list_aggregate(list_transform(range(len(q.q_vec)),
      i -> CAST(q.q_vec[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE)), 'sum')
  / (sqrt(list_aggregate(list_transform(range(len(q.q_vec)),
        i -> CAST(q.q_vec[i + 1] AS DOUBLE) * CAST(q.q_vec[i + 1] AS DOUBLE)), 'sum'))
   * sqrt(list_aggregate(list_transform(range(len(a.embedding)),
        i -> CAST(a.embedding[i + 1] AS DOUBLE) * CAST(a.embedding[i + 1] AS DOUBLE)), 'sum'))),
6)
""".strip()
    q["ann_ivf_topk"] = f"""
WITH cents AS (
  SELECT vec_id AS cid, embedding AS cvec FROM embeddings ORDER BY vec_id LIMIT 16
),
ranked AS (
  SELECT e.vec_id, e.embedding, c.cid,
         row_number() OVER (PARTITION BY e.vec_id
                            ORDER BY {_ccos} DESC, c.cid ASC) AS rn
  FROM embeddings e CROSS JOIN cents c
),
assign AS (
  SELECT vec_id, embedding, cid AS cell FROM ranked WHERE rn = 1
),
qprobe AS (
  SELECT vec_id AS query_id, embedding AS q_vec, cid AS cell
  FROM ranked WHERE vec_id < 10 AND rn <= 4
),
scored AS (
  SELECT q.query_id, a.vec_id AS neighbor_id, {_qcos} AS cosine
  FROM qprobe q JOIN assign a ON a.cell = q.cell AND a.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""".strip()

    # Product quantization (kgspark.vecops.pq_topk): seed-vector codebook,
    # per-subspace argmin-L2 encode (index-order folds, ties to the
    # smallest seed), reconstruction cosine.  The Spark side encodes with
    # literal codeword arrays; here the codebook stays relational (seeds
    # CTE + slices) — independent mechanism, same arithmetic.
    from .vecops import PQ_K, PQ_M

    _PQ_SUB = 64 // PQ_M
    _pqd = (
        f"(CAST(e.embedding[m.m * {_PQ_SUB} + i + 1] AS DOUBLE)"
        f" - CAST(s.embedding[m.m * {_PQ_SUB} + i + 1] AS DOUBLE))"
    )
    q["ann_pq_topk"] = f"""
WITH pseeds AS (
  SELECT embedding, row_number() OVER (ORDER BY vec_id) AS sk
  FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT {PQ_K})
),
ppart AS (
  SELECT e.vec_id, m.m, s.sk, s.embedding AS semb,
         list_aggregate(list_transform(range({_PQ_SUB}),
             i -> {_pqd} * {_pqd}), 'sum') AS l2
  FROM embeddings e
  CROSS JOIN (SELECT unnest(range({PQ_M})) AS m) m
  CROSS JOIN pseeds s
),
pbest AS (
  SELECT vec_id, m, semb FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id, m
                                 ORDER BY l2 ASC, sk ASC) AS rn
    FROM ppart) WHERE rn = 1
),
precon AS (
  SELECT vec_id,
         flatten(list(list_slice(semb, m * {_PQ_SUB} + 1,
                                 (m + 1) * {_PQ_SUB}) ORDER BY m)) AS recon
  FROM pbest GROUP BY vec_id
),
pq AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
),
pscored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(
           list_aggregate(list_transform(range(len(c.recon)),
               i -> CAST(q.q_vec[i + 1] AS DOUBLE) * CAST(c.recon[i + 1] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(range(len(q.q_vec)),
                 i -> CAST(q.q_vec[i + 1] AS DOUBLE) * CAST(q.q_vec[i + 1] AS DOUBLE)), 'sum'))
            * sqrt(list_aggregate(list_transform(range(len(c.recon)),
                 i -> CAST(c.recon[i + 1] AS DOUBLE) * CAST(c.recon[i + 1] AS DOUBLE)), 'sum'))),
         6) AS cosine_pq
  FROM precon c CROSS JOIN pq q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine_pq, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine_pq DESC, neighbor_id ASC) AS rank
  FROM pscored
) WHERE rank <= 5
""".strip()

    q["ann_cosine_topk"] = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS q_vec FROM embeddings WHERE vec_id < 10
),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id,
         round(
           list_aggregate(list_transform(range(len(c.embedding)),
               i -> CAST(q.q_vec[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)), 'sum')
           / (sqrt(list_aggregate(list_transform(range(len(q.q_vec)),
                 i -> CAST(q.q_vec[i + 1] AS DOUBLE) * CAST(q.q_vec[i + 1] AS DOUBLE)), 'sum'))
            * sqrt(list_aggregate(list_transform(range(len(c.embedding)),
                 i -> CAST(c.embedding[i + 1] AS DOUBLE) * CAST(c.embedding[i + 1] AS DOUBLE)), 'sum'))),
         6) AS cosine
  FROM embeddings c CROSS JOIN q
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= 5
""".strip()

    return q
