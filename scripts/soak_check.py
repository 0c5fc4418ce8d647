#!/usr/bin/env python3
"""Soak checker: one pass over a `graft.tools.Soak` run.

Usage: python3 scripts/soak_check.py <out_dir> <artifact.json> [key ...]

Reads <out_dir>/soak_run.json, the run record Soak writes (tier, folds,
tables, keys, base and soak dirs, committed oracle texts, timings), and
checks in DuckDB:

1. CORPUS: the ScaleFold rule restated as SQL over the base dir
   (ops/ScaleFold.scala carries the same text), EXCEPT-compared with
   every amplified table the run wrote.
2. EQUIVALENCE: every oracle that is not the committed text is
   EXCEPT-proven equal to it on a corpus where both are fast.
3. QUERIES: every key of the record (or only the listed ones) against
   its oracle, compared as selfcheck.py compares (pandas frames,
   columns by name, rows sorted, values exact).
   Each key gets exactly one method from METHOD.

Writes one CORRECTNESS-shaped artifact with the run's timings. Exit 0
when clean, 1 on any engine failure (a mismatch, a corpus or
equivalence diff, a broken oracle), 2 when the only failures are known
environment faults on the oracle side (watchdog, OOM, spill cap).
"""
import json
import os
import shutil
import tempfile
import sys
import threading

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from selfcheck import TABLES, sorted_vals  # noqa: E402

SHIFT = 10_000_000

# The ONE rule, restated (ops/ScaleFold.scala `shifted` + documents /
# embeddings text):
SHIFTED = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "nation": [],
    "region": [],
    "embeddings": ["vec_id"],
}

# ScaleFold.EmbEps: exactly 2^-7 — float->double is exact, k*EMB_EPS is
# exact for k <= 9, one IEEE double add + one round-to-float are
# correctly rounded identically in Spark and DuckDB, so the EXCEPT
# compare below is a bit-level gate on the whole perturbation.
EMB_EPS = "0.0078125"

# The small corpus the equivalence proofs run on: the quadratic
# committed forms are fast there.
EQUIV_BASE = "/root/testdata/sf0.01"

DUCK_TMP = "target/duck_tmp"


def tuned(con):
    """DuckDB keeps its own thread and memory defaults, which come from
    the machine (memory: 80% of RAM, so a blown-up plan spills instead
    of growing without bound). Spill is capped at half the free space
    of the temp dir's filesystem: r11's q_graph_bfs oracle wrote >79 GB
    of temp before dying on a full disk, and the leaked files then
    starved its sibling keys -- a runaway recursive CTE must fail fast
    and per key instead."""
    os.makedirs(DUCK_TMP, exist_ok=True)
    con.execute(f"SET temp_directory='{DUCK_TMP}'")
    con.execute("SET max_temp_directory_size="
                f"'{shutil.disk_usage(DUCK_TMP).free // 2}B'")
    return con


def clean_duck_tmp():
    """Remove leaked spill files; DuckDB only reclaims temp on a clean
    connection close, so an interrupted/OOM-killed oracle leaves its
    duckdb_temp_storage-*.tmp behind (r11: 62 GB, disk at 80%). Called
    from a finally block on every exit path."""
    shutil.rmtree(DUCK_TMP, ignore_errors=True)


# Known ENVIRONMENT failure signatures on the oracle side: the watchdog
# interrupt (run_guarded), disk-full spill, the temp-directory cap, and
# allocator OOM. Matched case-insensitively as substrings of the error.
ENV_SIGS = ("interrupt", "no space left on device", "out of memory",
            "outofmemory", "cannot allocate memory",
            "max_temp_directory_size", "failed to offload")


def classify(entry):
    """status enum: pass | engine_fail | oracle_env. Only an oracle-side
    error matching a KNOWN environment signature (ENV_SIGS: watchdog
    interrupt, disk-full spill, temp cap, OOM) is an environment fault;
    any OTHER oracle-side exception — binder error, bad table reference,
    syntax — is evidence the COMMITTED ORACLE is broken, so it counts as
    engine_fail and fails the soak's exit code instead of silently
    skipping the key (ADVICE r12)."""
    if entry.get("hash_match"):
        return "pass"
    err = (entry.get("err") or "").lower()
    if err.startswith("oracle-side:") and any(s in err for s in ENV_SIGS):
        return "oracle_env"
    return "engine_fail"


def fail_counts(doc):
    """(engine fail_count, env_fail_count) over all three gates."""
    eng = (sum(0 if v["match"] else 1 for v in doc["corpus"].values()) +
           sum(0 if v["match"] else 1
               for v in doc["oracle_equivalence"].values()))
    env = 0
    for v in doc["queries"].values():
        v["status"] = classify(v)
        if v["status"] == "engine_fail":
            eng += 1
        elif v["status"] == "oracle_env":
            env += 1
    return eng, env


def guarded(con, seconds, run):
    """run(con) under a wall-clock watchdog that interrupts `con` after
    `seconds`, so one pathological oracle records a per-key failure
    instead of hanging the whole artifact (the r10 soak never landed
    because one key ground forever)."""
    t = threading.Timer(seconds, con.interrupt)
    t.start()
    try:
        return run(con)
    finally:
        t.cancel()


def run_guarded(con, sql, seconds=3600):
    """`sql`'s result frame, watchdog-guarded. An hour is deliberately
    generous: the guard exists for unbounded hangs, not to shave minutes
    off a legitimately heavy single-node oracle at ~SF1 (q_dedup_minhash's
    prefix-join oracle needs >15 min there)."""
    return guarded(con, seconds, lambda c: c.execute(sql).df())


def rule_sql(table, base_dir, cols, folds):
    """DuckDB restatement of the amplified table (folds 0..folds-1)."""
    shifts = set(SHIFTED[table])
    if not shifts:
        return f"SELECT * FROM '{base_dir}/{table}.parquet'"
    sel = []
    for c in cols:
        if c in shifts:
            sel.append(f"{c} + k * {SHIFT} AS {c}")
        elif table == "documents" and c == "text":
            sel.append(f"text || ' f' || CAST(k AS VARCHAR) AS text")
        elif table == "documents" and c == "n_chars":
            # 2 + digits(k): +3 for the single-digit folds of the ~SF1
            # soak (the historical rule), +4 at two digits (SF10)
            sel.append("n_chars + 2 + len(CAST(k AS VARCHAR)) AS n_chars")
        elif table == "embeddings" and c == "embedding":
            # (k % 10): the bounded perturbation alphabet (r16) -- a
            # no-op at the ~SF1 soak's 10 folds, the anti-collapse rule
            # at SF10's 100 (see ScaleFold.scala's embeddings rule)
            sel.append(f"[CAST(CAST(x AS DOUBLE) + k % 10 * {EMB_EPS} "
                       f"AS FLOAT) for x in embedding] AS embedding")
        else:
            sel.append(c)
    return (f"SELECT {', '.join(sel)} FROM '{base_dir}/{table}.parquet', "
            f"(SELECT unnest(range({folds})) AS k)")


def check_corpus(con, run):
    out = {}
    for t in run["tables"]:
        cols = [r[0] for r in con.execute(
            f"DESCRIBE SELECT * FROM '{run['base_dir']}/{t}.parquet'")
            .fetchall()]
        # embeddings included: DuckDB EXCEPT ALL compares LIST(FLOAT)
        # cells element-wise, so the perturbation rule is gated at the
        # bit level like every scalar column
        rule = rule_sql(t, run["base_dir"], cols, run["folds"])
        written = f"SELECT * FROM '{run['soak_dir']}/{t}.parquet/*.parquet'"
        n_rule = con.execute(f"SELECT count(*) FROM ({rule})").fetchone()[0]
        n_soak = con.execute(f"SELECT count(*) FROM ({written})").fetchone()[0]
        diff = con.execute(
            f"SELECT count(*) FROM (({rule} EXCEPT ALL {written}) "
            f"UNION ALL ({written} EXCEPT ALL {rule}))").fetchone()[0]
        out[t] = {"rule_rows": n_rule, "soak_rows": n_soak,
                  "match": bool(diff == 0 and n_rule == n_soak)}
        status = "PASS" if out[t]["match"] else "FAIL"
        print(f"corpus {status} {t}: rule={n_rule} soak={n_soak} diff={diff}")
    return out


# --- Scalable-but-equivalent soak oracles -----------------------------
#
# Some committed oracles are O(n^2) all-pairs joins (fine at the sf0.01
# gate, infeasible at 10x soak scale: the minhash oracle alone ran
# >9 min at 5k docs). The soak swaps in EXACT reformulations of the same
# semantics:
#
#   - q_dedup_minhash / q_dedup_ngram: the exact J >= 0.5 pair set from
#     a posting-list self-join (soak_pairs below).
#   - q_dedup_eval `truth`: candidate pairs from a PREFIX-FILTERED
#     inverted index (AllPairs/PPJoin bound: J(A,B) >= 0.5 forces the
#     rarity-ordered prefixes of length |X| - ceil(|X|/2) + 1 to share
#     a shingle), then exact Jaccard on candidates only.
#   - q_dedup_eval `pred`: hamming(a,b) <= 3 over a 64-bit simhash in
#     4x16-bit words forces >= 1 word EXACTLY equal (pigeonhole), so
#     candidates come from 4 banded equi-joins, verified exactly.
#   - q_kcore: the IN-subquery peel rounds (which DuckDB planned
#     catastrophically: >64 s at pilot) become explicit joins (0.4 s).
#   - q_entity_clusters: the levenshtein pair CTE over the distinct
#     name domain instead of every key pair.
#
# Equivalence is not assumed: check_equivalence() EXCEPT-compares every
# override against the committed text at sf0.01, where both are fast.

_SHINGLE_S = """
  SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                for i in range(1, len(t) - 1)]) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
  WHERE len(t) >= 3"""

# The expensive exact pair set is shared by two overrides (minhash
# pairs, ngram pairs). Materialize it once per connection as a temp
# table; the overrides then read soak_pairs instead of each re-running
# the pair join (r11: one evaluation at ~SF1 costs tens of minutes).
# Exact J >= 0.5 pairs WITHOUT per-pair list ops: |A intersect B| is a
# posting-list self-join counted per pair (pure vectorized join+agg;
# the per-pair list_intersect verify measured 40+ GB / >1 h at ~SF1,
# this form runs in minutes), and the threshold is the integer form
# 2c >= |A|+|B|-c, exactly equivalent to jac >= 0.5.
_PAIRS_TABLE_SQL = f"""CREATE OR REPLACE TEMP TABLE soak_pairs AS
WITH s AS ({_SHINGLE_S}),
n AS (SELECT doc_id, len(sh) AS n FROM s),
post AS (SELECT doc_id, unnest(sh) AS tok FROM s),
c AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
      FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
SELECT doc_a, doc_b, c * 1.0 / (na.n + nb.n - c) AS jac
FROM c JOIN n na ON na.doc_id = c.doc_a JOIN n nb ON nb.doc_id = c.doc_b
WHERE 2 * c >= na.n + nb.n - c"""

_JACCARD_PAIRS_FROM_TABLE = """SELECT doc_a, doc_b,
  CAST(floor(jac * 1000000) AS BIGINT) AS jaccard_e6
FROM soak_pairs ORDER BY doc_a, doc_b"""

def prepare_shared(con, seconds=3600):
    """Build the shared soak_pairs table on `con` (guarded)."""
    guarded(con, seconds, lambda c: c.execute(_PAIRS_TABLE_SQL))


# Every CTE MATERIALIZED: each e_n is referenced three times (by e_n+1
# and twice inside d_n's UNION ALL); DuckDB's default inlining expands
# e3 into 3^3 copies of the e0 self-join, each with its own hash-join
# memory — measured 22+ GiB of spill on a 1.2M-edge fold where the
# materialized form runs in seconds.
_KCORE_SQL = """
WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
      FROM li a JOIN li b ON a.o = b.o AND a.p < b.p),
d0 AS (SELECT src, count(*) AS dg FROM
    (SELECT u AS src FROM e0 UNION ALL SELECT v FROM e0)
  GROUP BY 1),
k0 AS MATERIALIZED (SELECT src FROM d0 WHERE dg >= 2),
e1 AS MATERIALIZED (SELECT u, v FROM e0
  JOIN k0 ku ON e0.u = ku.src JOIN k0 kv ON e0.v = kv.src),
d1 AS (SELECT src, count(*) AS dg FROM
    (SELECT u AS src FROM e1 UNION ALL SELECT v FROM e1)
  GROUP BY 1),
k1 AS MATERIALIZED (SELECT src FROM d1 WHERE dg >= 2),
e2 AS MATERIALIZED (SELECT u, v FROM e1
  JOIN k1 ku ON e1.u = ku.src JOIN k1 kv ON e1.v = kv.src),
d2 AS (SELECT src, count(*) AS dg FROM
    (SELECT u AS src FROM e2 UNION ALL SELECT v FROM e2)
  GROUP BY 1),
k2 AS MATERIALIZED (SELECT src FROM d2 WHERE dg >= 2),
e3 AS MATERIALIZED (SELECT u, v FROM e2
  JOIN k2 ku ON e2.u = ku.src JOIN k2 kv ON e2.v = kv.src)
SELECT src AS node, CAST(count(*) AS BIGINT) AS dg FROM
  (SELECT u AS src FROM e3 UNION ALL SELECT v FROM e3)
GROUP BY 1 ORDER BY node"""


def _dedup_eval_sql(committed):
    """Rewrite BOTH all-pairs joins in the committed q_dedup_eval text,
    keeping the (long, generated) simhash CTEs verbatim: `truth` becomes
    the prefix-filtered pair set; `pred`'s all-pairs hamming join becomes
    the 4-band pigeonhole equi-join over the same sh0..sh3 words.
    """
    quad_truth = ("truth AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
                  "      FROM s a JOIN s b ON a.doc_id < b.doc_id\n"
                  "      WHERE len(list_intersect(a.sh, b.sh)) * 1.0 /\n"
                  "            len(list_distinct(list_concat(a.sh, b.sh)))"
                  " >= 0.5),")
    fast_truth = f"""post AS (SELECT doc_id, unnest(sh) AS tok FROM s),
dfreq AS (SELECT tok, count(*) AS df FROM post GROUP BY 1),
ranked AS (SELECT p.doc_id, p.tok,
             row_number() OVER (PARTITION BY p.doc_id
                                ORDER BY d.df, p.tok) AS rn,
             count(*) OVER (PARTITION BY p.doc_id) AS n
           FROM post p JOIN dfreq d USING (tok)),
pref AS (SELECT doc_id, tok FROM ranked
         WHERE rn <= n - CAST(ceil(n * 0.5) AS BIGINT) + 1),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id),
truth AS (SELECT doc_a, doc_b
      FROM cand JOIN s sa ON sa.doc_id = doc_a
                JOIN s sb ON sb.doc_id = doc_b
      WHERE len(list_intersect(sa.sh, sb.sh)) * 1.0 /
            len(list_distinct(list_concat(sa.sh, sb.sh))) >= 0.5),"""
    quad_pred = ("pred AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b\n"
                 "      FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id\n"
                 "      WHERE bit_count(xor(a.sh0, b.sh0)) +"
                 " bit_count(xor(a.sh1, b.sh1)) +"
                 " bit_count(xor(a.sh2, b.sh2)) +"
                 " bit_count(xor(a.sh3, b.sh3)) <= 3),")
    fast_pred = """pcand AS (
  SELECT DISTINCT doc_a, doc_b FROM (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b FROM sh2 a JOIN sh2 b
      ON a.sh0 = b.sh0 AND a.doc_id < b.doc_id
    UNION ALL SELECT a.doc_id, b.doc_id FROM sh2 a JOIN sh2 b
      ON a.sh1 = b.sh1 AND a.doc_id < b.doc_id
    UNION ALL SELECT a.doc_id, b.doc_id FROM sh2 a JOIN sh2 b
      ON a.sh2 = b.sh2 AND a.doc_id < b.doc_id
    UNION ALL SELECT a.doc_id, b.doc_id FROM sh2 a JOIN sh2 b
      ON a.sh3 = b.sh3 AND a.doc_id < b.doc_id)),
pred AS (SELECT doc_a, doc_b
      FROM pcand JOIN sh2 a ON a.doc_id = doc_a
                 JOIN sh2 b ON b.doc_id = doc_b
      WHERE bit_count(xor(a.sh0, b.sh0)) + bit_count(xor(a.sh1, b.sh1)) +
            bit_count(xor(a.sh2, b.sh2)) + bit_count(xor(a.sh3, b.sh3))
            <= 3),"""
    assert quad_truth in committed and quad_pred in committed, \
        "committed q_dedup_eval text changed; update the soak override"
    return committed.replace(quad_truth, fast_truth) \
                    .replace(quad_pred, fast_pred)



_EC_QUAD = """WITH RECURSIVE p AS MATERIALIZED (
  SELECT a.p_partkey AS pa, b.p_partkey AS pb
  FROM part a JOIN part b
    ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
  WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
    AND levenshtein(a.p_name, b.p_name) <= 2),"""
_EC_FAST = """WITH RECURSIVE dn AS MATERIALIZED (
  SELECT DISTINCT p_brand, p_name FROM part),
np AS MATERIALIZED (
  SELECT a.p_brand, a.p_name AS na, b.p_name AS nb
  FROM dn a JOIN dn b
    ON a.p_brand = b.p_brand AND a.p_name <= b.p_name
  WHERE abs(len(a.p_name) - len(b.p_name)) <= 2
    AND levenshtein(a.p_name, b.p_name) <= 2),
p AS MATERIALIZED (
  SELECT least(ka.p_partkey, kb.p_partkey) AS pa,
         greatest(ka.p_partkey, kb.p_partkey) AS pb
  FROM np
  JOIN part ka ON ka.p_brand = np.p_brand AND ka.p_name = np.na
  JOIN part kb ON kb.p_brand = np.p_brand AND kb.p_name = np.nb
  WHERE np.na <> np.nb OR ka.p_partkey < kb.p_partkey),"""


def _entity_clusters_sql(committed):
    """The committed pair CTE re-verifies levenshtein once per KEY pair;
    the soak corpus copies every name 10x, so that is 100x duplicated DP
    work (the exact pathology the r11 Spark derivation fixed by deduping
    to the distinct name domain first). Same rewrite here; equivalence is
    EXCEPT-proven at sf0.01 like every other override."""
    assert _EC_QUAD in committed, "entity_clusters oracle text drifted"
    return committed.replace(_EC_QUAD, _EC_FAST)


# ---------------------------------------------------------------------
# Fold-structured oracle for q_stream_ingest_gate (r15, VERDICT r14 #6).
#
# The committed gate oracle is an all-pairs shingle-Jaccard statement;
# verbatim at 500k documents the posting self-join costs sum(df^2) over
# tokens, and fold amplification multiplies every df by FOLDS -- x10^4
# the base join, infeasible. But the ScaleFold rule makes the TRUE pair
# structure fold-class-decomposable: copy (b, j) has shingles
# B(b) + {fs(b, j)} where B(b) is the base shingle set and fs the ONE
# trailing shingle containing the fold token "f<j>". Under the checked
# assumption that no BASE token looks like a fold suffix (^f[0-9]+$ --
# fail-loud guard below), the Jaccard of any cross-copy pair depends
# only on its CLASS, not the fold ids:
#   J_diag(a,b): copies in the SAME fold (suffix tokens equal)
#   J_off(a,b):  copies of different docs in DIFFERENT folds
#   J_same(b):   two copies of the same doc (always different folds)
# Each class is computable at BASE scale from two constructed variants
# (suffixes ' f0' and ' f1'). The gate's min-predecessor rule then
# reduces to: copy (b, j>=1) takes the smallest fold-0 predecessor
# (J_off over any other doc, or J_same over its own fold-0 copy);
# failing that, the smallest same-fold predecessor a<b with J_diag,
# shifted to fold j; copy (b, 0) sees only fold-0 predecessors
# (J_diag, a<b). Equivalence vs the committed verbatim text is
# EXCEPT-proven at small scale (sf0.01 x 12 folds, two-digit fold
# included) before the full-scale check runs.
# ---------------------------------------------------------------------

_SH_VARIANT = """SELECT doc_id,
    list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                   for i in range(1, len(t) - 1)]) AS sh
  FROM (SELECT doc_id, string_split(text || ' f{k}', ' ') AS t FROM base)
  WHERE len(t) >= 3"""


def gate_fold_sql(base_docs_glob, folds, shift=SHIFT):
    s0 = _SH_VARIANT.format(k=0)
    s1 = _SH_VARIANT.format(k=1)
    return f"""
WITH base AS (SELECT doc_id, text FROM '{base_docs_glob}'),
s0 AS MATERIALIZED ({s0}),
s1 AS MATERIALIZED ({s1}),
n0 AS (SELECT doc_id, len(sh) AS n FROM s0),
n1 AS (SELECT doc_id, len(sh) AS n FROM s1),
p0 AS (SELECT doc_id, unnest(sh) AS tok FROM s0),
p1 AS (SELECT doc_id, unnest(sh) AS tok FROM s1),
cdiag AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
          FROM p0 a JOIN p0 b ON a.tok = b.tok AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
jdiag AS (SELECT a, b FROM cdiag
          JOIN n0 na ON na.doc_id = a JOIN n0 nb ON nb.doc_id = b
          WHERE 2 * c >= na.n + nb.n - c),
coff AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
         FROM p0 a JOIN p1 b ON a.tok = b.tok AND a.doc_id < b.doc_id
         GROUP BY 1, 2),
joff AS (SELECT a, b FROM coff
         JOIN n0 na ON na.doc_id = a JOIN n1 nb ON nb.doc_id = b
         WHERE 2 * c >= na.n + nb.n - c),
jsame AS (SELECT s0.doc_id AS b
          FROM s0 JOIN s1 ON s0.doc_id = s1.doc_id
          WHERE 2 * len(list_intersect(s0.sh, s1.sh))
                >= len(s0.sh) + len(s1.sh)
                   - len(list_intersect(s0.sh, s1.sh))),
m0 AS (SELECT b, min(a) AS m FROM (
         SELECT a, b FROM joff
         UNION ALL SELECT b AS a, a AS b FROM joff
         UNION ALL SELECT b AS a, b FROM jsame) GROUP BY b),
md AS (SELECT b, min(a) AS m FROM jdiag GROUP BY b),
f AS (SELECT unnest(range({folds})) AS j),
amp AS (SELECT d.doc_id AS base_id, d.doc_id + j * {shift} AS doc_id, j
        FROM base d CROSS JOIN f)
SELECT amp.doc_id,
  (CASE WHEN amp.j = 0 THEN md.m
        ELSE coalesce(m0.m, md.m + amp.j * {shift}) END) IS NULL
    AS admitted,
  CAST(CASE WHEN amp.j = 0 THEN md.m
            ELSE coalesce(m0.m, md.m + amp.j * {shift}) END AS BIGINT)
    AS dup_src
FROM amp
LEFT JOIN m0 ON m0.b = amp.base_id
LEFT JOIN md ON md.b = amp.base_id
ORDER BY doc_id"""


def check_gate_token_safety(con, base_dir):
    """The fold-class reduction is exact only if no base token can
    collide with a fold-suffix token; violated -> fail loud rather than
    compare against an unsound restatement."""
    n = con.execute(
        f"SELECT count(*) FROM (SELECT unnest(string_split(text, ' ')) "
        f"AS tok FROM '{base_dir}/documents.parquet') "
        f"WHERE regexp_matches(tok, '^f[0-9]+$')").fetchone()[0]
    if n:
        raise RuntimeError(
            f"{n} base tokens match ^f[0-9]+$ -- the fold-structured "
            f"gate oracle is unsound on this corpus; use the verbatim "
            f"committed text or change the fold suffix")


def gate_equivalence(committed_text, folds_small=12):
    """EXCEPT-prove the fold-structured form against the committed
    verbatim text over a corpus small enough for the quadratic form:
    every base doc involved in a true near-dup pair plus a 100-doc
    prefix, amplified 12-fold (two-digit fold included, so the
    suffix-width edge is in scope). The full sf0.01 base x 12 is
    quadratic-infeasible per check run (~18M list-op pairs measured
    >25 min); the subset keeps all cross-doc pair classes while
    cutting the verbatim side ~100x -- an equivalence proof needs the
    same corpus on both sides, not the whole corpus."""
    eq = tuned(duckdb.connect())
    tmpd = tempfile.mkdtemp(prefix="gate_eq_")
    try:
        check_gate_token_safety(eq, EQUIV_BASE)
        eq.execute(f"""COPY (
  WITH s AS (
    SELECT doc_id, list_distinct([t[i] || ' ' || t[i+1] || ' ' || t[i+2]
                                  for i in range(1, len(t) - 1)]) AS sh
    FROM (SELECT doc_id, string_split(text, ' ') AS t
          FROM '{EQUIV_BASE}/documents.parquet')
    WHERE len(t) >= 3),
  n AS (SELECT doc_id, len(sh) AS n FROM s),
  post AS (SELECT doc_id, unnest(sh) AS tok FROM s),
  c AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS c
        FROM post a JOIN post b ON a.tok = b.tok AND a.doc_id < b.doc_id
        GROUP BY 1, 2),
  -- slack band (ADVICE r15): the fold classes admit pairs one
  -- intersection-count below the base threshold (the trailing fold
  -- shingle adds +1 to both set sizes and, for same-fold pairs with
  -- matching last-two tokens, +1 to the intersection), so the proof
  -- corpus must include the threshold-BOUNDARY pairs too -- exactly
  -- the class where the fold-structured restatement could diverge
  pairs AS (SELECT a, b FROM c
            JOIN n na ON na.doc_id = a JOIN n nb ON nb.doc_id = b
            WHERE 2 * c >= na.n + nb.n - c - 2),
  keep AS (SELECT a AS doc_id FROM pairs
           UNION SELECT b FROM pairs)
  SELECT d.* FROM '{EQUIV_BASE}/documents.parquet' d
  WHERE d.doc_id < 100 OR d.doc_id IN (SELECT doc_id FROM keep)
) TO '{tmpd}/documents.parquet' (FORMAT PARQUET)""")
        cols = [r[0] for r in eq.execute(
            f"DESCRIBE SELECT * FROM "
            f"'{tmpd}/documents.parquet'").fetchall()]
        eq.execute(f"CREATE VIEW documents AS "
                   f"{rule_sql('documents', tmpd, cols, folds_small)}")
        eq.execute(f"CREATE VIEW v_quad AS {committed_text}")
        eq.execute(f"CREATE VIEW v_fold AS "
                   f"{gate_fold_sql(tmpd + '/documents.parquet', folds_small)}")
        return except_diff(eq, "SELECT * FROM v_fold", "SELECT * FROM v_quad")
    finally:
        eq.close()
        shutil.rmtree(tmpd, ignore_errors=True)


# --- Per-fold shard check for the recursive graph keys ------------------
#
# The ScaleFold rule shifts every join key by k*10M consistently, so the
# amplified co-purchase graph is the DISJOINT union of one shard per
# fold: edges come from the lineitem self-join on l_orderkey, every key
# of an order shifts by the same fold, and no edge crosses folds. These
# keys factorize over connected components, hence over folds, so the
# committed text run on each fold's view and recombined checks every row
# exactly, while each single-node oracle stays base-sized (the
# whole-corpus recursive CTEs spilled past the disk: q_graph_bfs alone
# wrote >79 GB of DuckDB temp at ~SF1).
#
# Per-node keys (bfs / pagerank) are the union of the fold results.
# q_label_prop emits (round, n_labels, max_members): labels are
# fold-local node ids, so the corpus row is the fold-wise SUM of
# n_labels and MAX of max_members per round. q_ppr's committed text ends
# in a GLOBAL `ORDER BY rank_e9 DESC, part LIMIT 25`, so the corpus
# answer is the top 25 of the union (exact: a global top-25 row has < 25
# rows above it globally, hence < 25 in its own fold). Seeds
# (src % 97 = 0) exist in every fold since the 10^7 shift permutes
# residues mod 97.
#
# Decomposability is VALIDATED by the comparison itself: an oracle that
# were not component-local (a 1/N teleport over the whole corpus, a
# global round count) would produce a spurious FAIL, never a false PASS;
# such a FAIL means "fold assumption broken" -- check the oracle first.

# fold-determining column per table (the graph oracles read lineitem /
# part; the rest are filtered consistently for hygiene)
FOLD_COL = {
    "part": "p_partkey", "lineitem": "l_orderkey", "orders": "o_orderkey",
    "customer": "c_custkey", "supplier": "s_suppkey",
    "events": "event_id", "documents": "doc_id",
    "embeddings": "vec_id",
}


def per_fold(key, sql, run):
    """`key`'s oracle frame, recombined from one run of `sql` per fold."""
    per = []
    for k in range(run["folds"]):
        con = tuned(duckdb.connect())
        try:
            for t in run["tables"]:
                where = (f" WHERE {FOLD_COL[t]} // {SHIFT} = {k}"
                         if t in FOLD_COL else "")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{run['soak_dir']}/{t}.parquet/*.parquet'{where}")
            per.append(run_guarded(con, sql))
        finally:
            con.close()
    union = pd.concat(per)
    if key == "q_label_prop":
        return union.groupby("round", as_index=False).agg(
            n_labels=("n_labels", "sum"),
            max_members=("max_members", "max"))[list(per[0].columns)]
    if key == "q_ppr":
        return union.sort_values(["rank_e9", "part"],
                                 ascending=[False, True]).head(25)
    return union


# --- The method table ----------------------------------------------------
#
# Each key's oracle: (method, text from the committed text and the run
# record). A key not listed runs its committed text over the whole soak
# corpus. "override" and "fold_gate" texts are EXCEPT-proven against the
# committed text before use; "per_fold" runs the committed text per fold.
COMMITTED = ("committed", lambda c, run: c)
METHOD = {
    "q_dedup_minhash": ("override", lambda c, run: _JACCARD_PAIRS_FROM_TABLE),
    "q_dedup_ngram": ("override", lambda c, run: _JACCARD_PAIRS_FROM_TABLE),
    "q_dedup_eval": ("override", lambda c, run: _dedup_eval_sql(c)),
    "q_entity_clusters": ("override",
                          lambda c, run: _entity_clusters_sql(c)),
    "q_kcore": ("override", lambda c, run: _KCORE_SQL),
    "q_graph_bfs": ("per_fold", COMMITTED[1]),
    "q_label_prop": ("per_fold", COMMITTED[1]),
    "q_pagerank": ("per_fold", COMMITTED[1]),
    "q_ppr": ("per_fold", COMMITTED[1]),
    "q_stream_ingest_gate": ("fold_gate", lambda c, run: gate_fold_sql(
        f"{run['base_dir']}/documents.parquet", run["folds"])),
}


def except_diff(con, a, b):
    """Rows of one SELECT missing from the other, both ways, as bags."""
    return int(run_guarded(
        con, f"SELECT count(*) FROM ((SELECT * FROM ({a}) EXCEPT ALL "
             f"SELECT * FROM ({b})) UNION ALL (SELECT * FROM ({b}) "
             f"EXCEPT ALL SELECT * FROM ({a})))").iloc[0, 0])


def pin(key, diff, where):
    print(f"equiv {'PASS' if diff == 0 else 'FAIL'} {key}: "
          f"oracle vs committed diff={diff} {where}")
    return {"diff_rows": diff, "match": bool(diff == 0)}


def check_equivalence(run, oracles):
    """Prove each non-committed oracle computes the committed semantics
    on a corpus where the committed form is fast: overrides over the
    sf0.01 base, the fold-structured gate over its pair subset."""
    committed = run["oracle_sql"]
    overrides = {k: sql for k, (m, sql) in oracles.items()
                 if m == "override"}
    out = {}
    if overrides:
        eq = tuned(duckdb.connect())
        for t in TABLES:
            eq.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                       f"'{EQUIV_BASE}/{t}.parquet'")
        if any("soak_pairs" in sql for sql in overrides.values()):
            prepare_shared(eq)
        for k in sorted(overrides):
            out[k] = pin(k, except_diff(eq, overrides[k], committed[k]),
                         "(sf0.01)")
        eq.close()
    for k in sorted(k for k, (m, _) in oracles.items() if m == "fold_gate"):
        check_gate_token_safety(duckdb.connect(), run["base_dir"])
        out[k] = pin(k, gate_equivalence(committed[k]),
                     "(sf0.01 pair-subset x 12)")
    return out


def check_key(con, key, method, sql, run, out_dir):
    entry = {"method": method, "rows_match": False, "schema_match": False,
             "hash_match": False, "spark_rows": None, "oracle_rows": None,
             "err": None}
    try:
        s_cols, s_vals = sorted_vals(con.execute(
            f"SELECT * FROM '{out_dir}/{key}/*.parquet'").df(), "spark", key)
    except Exception as e:
        entry["err"] = f"spark-side: {e}"
    else:
        entry["spark_rows"] = len(s_vals)
        try:
            d_cols, d_vals = sorted_vals(
                per_fold(key, sql, run) if method == "per_fold"
                else run_guarded(con, sql), "duckdb", key)
        except Exception as e:
            entry["err"] = f"oracle-side: {e}"
        else:
            entry["oracle_rows"] = len(d_vals)
            entry["rows_match"] = len(s_vals) == len(d_vals)
            entry["schema_match"] = s_cols == d_cols
            entry["hash_match"] = entry["schema_match"] and s_vals == d_vals
    print(f"query {'PASS' if entry['hash_match'] else 'FAIL'} {key} "
          f"[{method}]: spark={entry['spark_rows']} "
          f"oracle={entry['oracle_rows']}"
          + (f" err={entry['err']}" if entry["err"] else ""), flush=True)
    if entry["rows_match"] and not entry["hash_match"]:
        for a, b in [(a, b) for a, b in zip(s_vals, d_vals) if a != b][:2]:
            print(f"  spark: {a}\n  duck:  {b}")
    return entry


def main():
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, artifact, only = sys.argv[1], sys.argv[2], sys.argv[3:]
    with open(f"{out_dir}/soak_run.json") as f:
        run = json.load(f)
    unknown = sorted(set(only) - set(run["keys"]))
    if unknown:
        sys.exit(f"keys not in this soak run: {' '.join(unknown)}")
    oracles = {}
    for k in only or run["keys"]:
        method, text = METHOD.get(k, COMMITTED)
        oracles[k] = (method, text(run["oracle_sql"][k], run))
    try:
        con = tuned(duckdb.connect())
        corpus = check_corpus(con, run)
        equiv = check_equivalence(run, oracles)
        # the oracles read the SOAK corpus -- both engines see the same
        # files
        for t in run["tables"]:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{run['soak_dir']}/{t}.parquet/*.parquet'")
        if any("soak_pairs" in sql for _, sql in oracles.values()):
            print("building the shared soak_pairs table...", flush=True)
            try:
                prepare_shared(con)
            except Exception as e:
                print(f"soak_pairs build FAILED: {e} -- its keys record "
                      f"per-key failures", flush=True)
        queries = {k: check_key(con, k, m, sql, run, out_dir)
                   for k, (m, sql) in sorted(oracles.items())}
        part = ("" if set(run["tables"]) == set(TABLES)
                else " " + "+".join(run["tables"]))
        doc = {"scale": f"{os.path.basename(run['base_dir'])}{part} x "
                        f"{run['folds']} folds ({run['tier']})",
               "base_dir": run["base_dir"], "corpus": corpus,
               "oracle_equivalence": equiv, "queries": queries,
               "timings": run["timings"]}
        doc["fail_count"], doc["env_fail_count"] = fail_counts(doc)
        with open(artifact, "w") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        failed = [k for k, v in queries.items() if v["status"] != "pass"]
        print(f"== soak {run['tier']}: {len(queries)} keys, "
              f"{doc['fail_count']} engine failures, {doc['env_fail_count']} "
              f"oracle-env failures -> {artifact}"
              + (f"\n== failed keys: {' '.join(failed)}" if failed else ""))
        sys.exit(1 if doc["fail_count"]
                 else (2 if doc["env_fail_count"] else 0))
    finally:
        clean_duck_tmp()


if __name__ == "__main__":
    main()
