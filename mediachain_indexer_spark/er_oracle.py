"""DuckDB SQL twins of the ER pipeline's scored / cluster / eval surfaces.

Round-5 graduation machinery: every ``er_*`` driver surface except the
HLL entry can now be re-derived end-to-end in ANSI-ish DuckDB SQL over the
fixture spans parquet, so the driver's rows+schema+hash comparator validates
VALUES, not just row counts, for the flagship pipeline outputs
([PK] mediachain/indexer/mc_dedupe.py pairwise rerank + dedupe_reindex
clustering semantics, rebuilt Spark-first in operators/scoring.py and
operators/cluster.py).

The previously-documented blocker — "DuckDB's jaro_winkler_similarity is a
different function than the reference kernel" — only ruled out DuckDB's
*built-in*.  The reference kernel itself (functions/simtext.py) truncates
inputs to MAXLEN=64 chars, which means the greedy matcher's used-position
flags over ``b`` fit in ONE UBIGINT bitmask, and the whole kernel becomes a
recursive CTE over ``a``'s character positions carrying (used, m, aseq)
state; transpositions and the Winkler boost are closed-form on the final
state.  Validated bit-exact (float64 bit pattern) against
``jaro_winkler_batch`` on 3,700 adversarial + fixture pairs and on every
scored fixture pair (tests/test_er_oracle_sql.py).

Float-parity rules (hard-won, do not "simplify"):

- EVERY float literal is cast ``::DOUBLE``: DuckDB parses a bare ``0.1`` as
  DECIMAL(2,1), so ``3 * 0.1`` is exactly 0.3 while numpy's
  ``3 * np.float64(0.1)`` is 0.30000000000000004 — a 2-ulp JW divergence
  found by the bit-exact harness.
- Replicate Spark/numpy EXPRESSION SHAPES, not simplified constants:
  ``2.0*0.99 - 1.0`` stays written out (it folds to 0.98000000000000009,
  not 0.98), sums stay left-associated, ``(jw + lev)/2`` keeps its
  parenthesization.
- Integer ``/`` is float division in BOTH engines (Spark SQL and DuckDB),
  matching numpy's float64 promotion.

Domain guards (loud error() instead of silent hash-mismatch): over-cap
blocks (cap_blocks truncation is not replicated; fixture max block is 56
of 256) — same convention as the xxh64 small-path guard in catalog.py.
"""

from __future__ import annotations

import math

_D = "::DOUBLE"


def round_half_away_6(x: float) -> float:
    """Quantize a non-negative metric to 6 places rounding half-AWAY-from-
    zero — DuckDB's round() semantics, which eval_f1_sql relies on.
    Python's built-in round() is half-to-even and diverges on exact
    k.5e-6 ties (1/128 → 0.007812 vs DuckDB's 0.007813); every Python-side
    consumer that compares against the SQL oracle must quantize with THIS
    function (__spark_entry__._er_eval_f1 does)."""
    return math.floor(float(x) * 1e6 + 0.5) / 1e6


# ---------------------------------------------------------------------------
# spans corpus -> normalize prefix (flat, txt, phu) — no MinHash machinery
# ---------------------------------------------------------------------------
def base_ctes(
    spans_path: str,
    extra_flat_values: str = "",
    exclude_doc_ids: tuple[str, ...] = (),
) -> str:
    """The spans-corpus normalize prefix shared by EVERY oracle: flattened
    spans, normalized text (lower -> strip non-alnum -> trim, spans joined
    in offset order), and the hex-embedded pHash parse — ``phu`` carries the
    span offset and BOTH the unsigned value ``h`` (band bit math) and the
    two's-complement signed fold ``hs`` (the int64 Spark stores), so the
    normalize-features oracle and the band-key oracles read one CTE
    (operators/normalize.py, functions/phash.py)."""
    m64 = "18446744073709551616"
    excl = ""
    if exclude_doc_ids:
        ids = ", ".join(f"'{d}'" for d in exclude_doc_ids)
        excl = f"WHERE doc_id NOT IN ({ids})"
    return f"""flat AS (
  SELECT * FROM (
    SELECT doc_id, u.kind AS kind, u.text AS text,
           u.media_ref AS media_ref, u."offset" AS off
    FROM (SELECT doc_id, UNNEST(spans) AS u
          FROM read_parquet('{spans_path}/*.parquet'))
    {extra_flat_values}
  ) {excl}
),
txt AS (
  SELECT doc_id,
         TRIM(REGEXP_REPLACE(LOWER(string_agg(text, ' ' ORDER BY off)),
                             '[^a-z0-9]+', ' ', 'g')) AS nt
  FROM flat WHERE kind = 'text' AND text IS NOT NULL GROUP BY doc_id
),
phu AS (
  SELECT doc_id, off, h,
    CAST(CAST(h AS HUGEINT)
         - CASE WHEN h >= CAST('0x8000000000000000' AS UBIGINT)
                THEN CAST('{m64}' AS HUGEINT) ELSE 0 END AS BIGINT) AS hs
  FROM (SELECT doc_id, off,
               CAST(CONCAT('0x', SUBSTR(media_ref, 3, 16)) AS UBIGINT) AS h
        FROM flat WHERE kind = 'media' AND media_ref IS NOT NULL)
)"""


def phash_band_keys_select(key_col: str = "bkey") -> str:
    """The 21/21/22-bit pHash band-key split over ``phu`` — ONE definition
    serving the pairs oracle and the blocks oracle (functions/phash.py
    band layout)."""
    return f"""SELECT doc_id, 'p0:' || ((h >> 43) & 2097151)::VARCHAR AS {key_col} FROM phu
  UNION ALL
  SELECT doc_id, 'p1:' || ((h >> 22) & 2097151)::VARCHAR AS {key_col} FROM phu
  UNION ALL
  SELECT doc_id, 'p2:' || (h & 4194303)::VARCHAR AS {key_col} FROM phu"""


# ---------------------------------------------------------------------------
# spans corpus -> normalize + MinHash kernel (flat, txt, phu, coef, c, g, sg)
# ---------------------------------------------------------------------------
def kernel_ctes(
    spans_path: str,
    extra_flat_values: str = "",
    exclude_doc_ids: tuple[str, ...] = (),
) -> str:
    """CTE prefix shared by every spans-corpus oracle: flattened spans,
    normalized text (lower -> strip non-alnum -> trim, spans joined in
    offset order), hex-embedded pHash parse, and the full vectorized-MinHash
    kernel re-derived in SQL (3-gram mod-2^64 rolling hash, split-multiply
    splitmix64 finalizer, 72 seed-42 permutation minima inlined as
    literals) — the machinery proven in catalog.py's dedup_minhash oracle,
    re-targeted at the spans shape and (12,6) blocking config
    (operators/normalize.py, functions/minhash.py).

    ``extra_flat_values``: optional ``UNION ALL SELECT ...`` block of extra
    flat rows (doc_id, kind, text, media_ref, off) — used by the deletion
    oracle to inline the engineered similarity-chain docs.
    ``exclude_doc_ids``: doc ids removed from the corpus (deletions).
    """
    from mediachain_indexer_spark.functions.minhash import _coefficients

    ac, bc = _coefficients(72, 42)
    acs = ", ".join(str(x) for x in ac)
    bcs = ", ".join(str(x) for x in bc)
    m64 = "18446744073709551616"
    return f"""{base_ctes(spans_path, extra_flat_values, exclude_doc_ids)},
coef AS (SELECT [{acs}]::UBIGINT[] AS ac, [{bcs}]::UBIGINT[] AS bc),
c AS (
  SELECT doc_id, length(nt) AS ln,
    list_transform(range(1, greatest(length(nt), 3) + 1),
      i -> CASE WHEN i <= length(nt) THEN unicode(substr(nt, i, 1))::UBIGINT
                ELSE 0::UBIGINT END) AS codes
  FROM txt WHERE length(nt) > 0
),
g AS (
  SELECT doc_id,
    list_transform(
      list_transform(
        list_transform(
          list_transform(
            list_transform(
              list_transform(range(0, greatest(ln - 3, 0) + 1), s ->
                ((((codes[s+1]::HUGEINT * 1099511628211 + codes[s+2])
                  % {m64}) * 1099511628211 + codes[s+3])
                  % {m64})::UBIGINT),
              x -> xor(x, x >> 33)),
            x -> ((x::HUGEINT * 3981806797 % {m64}
                   + (x::HUGEINT * 4283543511 % 4294967296) * 4294967296)
                  % {m64})::UBIGINT),
          x -> xor(x, x >> 33)),
        x -> ((x::HUGEINT * 444984403 % {m64}
               + (x::HUGEINT * 3301882366 % 4294967296) * 4294967296)
              % {m64})::UBIGINT),
      x -> xor(x, x >> 33) % 2147483647) AS hm
  FROM c
),
sg AS (
  SELECT doc_id,
    list_transform(range(1, 73), j ->
      list_aggregate(
        list_transform(hm, h -> (ac[j] * h + bc[j]) % 2147483647),
        'min')) AS sig
  FROM g CROSS JOIN coef
)"""


# ---------------------------------------------------------------------------
# blocking families -> distinct candidate pairs + per-pair features
# ---------------------------------------------------------------------------
def pairs_feats_ctes(guard_name: str = "er scored oracle") -> str:
    """(12,6) band keys joined on slot tuples, 3-split pHash bands, exact-
    text family, distinct co-blocked self-join (equality-equivalent to
    Spark's xxhash64 keys modulo 2^-64 collisions — hash values never reach
    the pair output), plus per-pair min-Hamming and both docs' normalized
    texts (operators/blocking.py, operators/pairs.py).  The salted join and
    exact-suppression machinery do not change the DISTINCT pair set
    (tests/test_blocking_pairs.py), so the oracle is a plain distinct join;
    ``cap_blocks`` truncation is guarded, not replicated."""
    return f"""tkeys AS (
  SELECT doc_id,
    unnest(list_transform(range(0, 12), b ->
      't' || b::VARCHAR || ':' ||
      array_to_string(list_slice(sig, 6 * b + 1, 6 * b + 6), '_'))) AS bkey
  FROM sg
),
pkeys AS (
  {phash_band_keys_select("bkey")}
),
ekeys AS (SELECT doc_id, 'e:' || nt AS bkey FROM txt WHERE length(nt) > 0),
allk AS (
  SELECT DISTINCT doc_id, bkey FROM (
    SELECT * FROM tkeys UNION ALL SELECT * FROM pkeys
    UNION ALL SELECT * FROM ekeys
  )
),
cap_guard AS (
  SELECT CASE WHEN max(cnt) > 256
              THEN error('{guard_name} domain: over-cap block')
              ELSE 1 END AS ok
  FROM (SELECT count(*) AS cnt FROM allk GROUP BY bkey)
),
pairsd AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM allk a JOIN allk b ON a.bkey = b.bkey AND a.doc_id < b.doc_id
  CROSS JOIN cap_guard
),
ids AS (SELECT DISTINCT doc_id FROM flat),
feats AS (
  SELECT ids.doc_id, COALESCE(txt.nt, '') AS nt
  FROM ids LEFT JOIN txt USING (doc_id)
),
ham AS (
  SELECT p.doc_a, p.doc_b,
         COALESCE(CAST(min(bit_count(xor(ha.h, hb.h))) AS INTEGER), 64) AS mh
  FROM pairsd p
  LEFT JOIN phu ha ON ha.doc_id = p.doc_a
  LEFT JOIN phu hb ON hb.doc_id = p.doc_b
  GROUP BY p.doc_a, p.doc_b
),
base AS (
  SELECT h.doc_a, h.doc_b, h.mh, fa.nt AS ta, fb.nt AS tb,
         array_to_string(list_sort(string_split(fa.nt, ' ')), ' ') AS sa,
         array_to_string(list_sort(string_split(fb.nt, ' ')), ' ') AS sb
  FROM ham h
  JOIN feats fa ON fa.doc_id = h.doc_a
  JOIN feats fb ON fb.doc_id = h.doc_b
)"""


# ---------------------------------------------------------------------------
# reference Jaro-Winkler as a recursive CTE (bit-exact vs simtext.py)
# ---------------------------------------------------------------------------
def jw_ctes() -> str:
    """Recursive-CTE re-derivation of ``jaro_winkler_batch`` over the rows
    of a ``jwin(doc_a, doc_b, a, b, la, lb, w)`` CTE supplied by the caller
    (strings already truncated to MAXLEN=64).  State per row: the greedy
    matcher's position ``i``, the used-``b``-positions UBIGINT bitmask
    (MAXLEN=64 makes this exact), match count ``m`` and the matched-char
    sequence ``aseq``.  Transpositions compare ``aseq`` against ``b``'s
    matched chars in position order (extracted from the final bitmask);
    the Winkler prefix is a closed-form monotone prefix count."""
    return f"""jwstate AS (
  SELECT doc_a, doc_b, a, b, la, lb, w,
         0 AS i, 0::UBIGINT AS used, 0 AS m, '' AS aseq
  FROM jwin
  UNION ALL
  SELECT doc_a, doc_b, a, b, la, lb, w, i + 1,
         CASE WHEN js IS NOT NULL THEN used | (1::UBIGINT << js) ELSE used END,
         CASE WHEN js IS NOT NULL THEN m + 1 ELSE m END,
         CASE WHEN js IS NOT NULL THEN aseq || ch ELSE aseq END
  FROM (
    SELECT doc_a, doc_b, a, b, la, lb, w, i, used, m, aseq,
           substr(a, i + 1, 1) AS ch,
           list_filter(range(greatest(i - w, 0), least(i + w + 1, lb)),
                       j -> substr(b, j + 1, 1) = substr(a, i + 1, 1)
                            AND ((used >> j) & 1) = 0)[1] AS js
    FROM jwstate WHERE i < la
  )
),
jwcalc AS (
  SELECT doc_a, doc_b, la, lb, m,
    CASE WHEN m > 0 THEN
      list_sum(list_transform(range(1, m + 1),
        k -> CASE WHEN substr(aseq, k, 1) != substr(
               array_to_string(list_transform(
                 list_filter(range(0, lb), j -> ((used >> j) & 1) = 1),
                 j -> substr(b, j + 1, 1)), ''), k, 1) THEN 1 ELSE 0 END)) // 2
    ELSE 0 END AS t,
    CASE WHEN least(la, lb) = 0 THEN 0 ELSE
      list_sum(list_transform(range(1, least(4, la, lb) + 1),
        k -> CASE WHEN substr(a, 1, k) = substr(b, 1, k) THEN 1 ELSE 0 END))
    END AS pl
  FROM jwstate WHERE i = la
),
jwv AS (
  SELECT doc_a, doc_b,
    least(greatest(jaro + pl * 0.1{_D} * (1.0{_D} - jaro), 0.0{_D}), 1.0{_D}) AS jw
  FROM (
    SELECT doc_a, doc_b, pl,
      CASE WHEN la = 0 AND lb = 0 THEN 1.0{_D}
           WHEN m = 0 THEN 0.0{_D}
           ELSE (m{_D} / la + m{_D} / lb + (m - t){_D} / m) / 3.0{_D}
      END AS jaro
    FROM jwcalc
  )
)"""


def _jwin_cte(src: str, pred: str) -> str:
    """jwin rows (64-char-truncated string pairs) from ``src`` where ``pred``."""
    return f"""jwin AS (
  SELECT doc_a, doc_b,
         substr(ta, 1, 64) AS a, substr(tb, 1, 64) AS b,
         length(substr(ta, 1, 64)) AS la, length(substr(tb, 1, 64)) AS lb,
         greatest(greatest(length(substr(ta, 1, 64)),
                           length(substr(tb, 1, 64))) // 2 - 1, 0) AS w
  FROM {src} WHERE {pred}
)"""


# ---------------------------------------------------------------------------
# cascade scorer (join path: operators/scoring.score_pairs)
# ---------------------------------------------------------------------------
def cascade_scored_ctes() -> str:
    """The join-path scorer with its cascade REPLICATED, not simplified:
    lev_sim / lev_sim_sorted emit the O(1) length-difference upper BOUND on
    rows where the exact DP cannot change any decision (the bound itself is
    the column value Spark ships), and jw is computed — and non-null — only
    on rows where it can flip ``is_match`` (score_pairs' ``need_jw``).  The
    thresholds appear in their original expression shapes (``2.0*0.99-1.0``
    et al., all ::DOUBLE) so the folded constants match Spark's bit-for-bit."""
    return f"""lv AS (
  SELECT doc_a, doc_b, mh, ta, tb,
    CASE WHEN ta = tb OR greatest(length(ta), length(tb)) = 0 THEN 1.0{_D}
         WHEN mh <= 8 OR (CASE WHEN greatest(length(ta), length(tb)) = 0 THEN 1.0{_D}
              ELSE 1.0{_D} - abs(length(ta) - length(tb)) / greatest(length(ta), length(tb)) END)
              >= 2.0{_D} * 0.99{_D} - 1.0{_D}
           THEN 1.0{_D} - levenshtein(ta, tb) / greatest(length(ta), length(tb))
         ELSE 1.0{_D} - abs(length(ta) - length(tb)) / greatest(length(ta), length(tb))
    END AS lev_sim,
    CASE WHEN ta = tb OR greatest(length(sa), length(sb)) = 0 THEN 1.0{_D}
         WHEN mh <= 8 OR (CASE WHEN greatest(length(sa), length(sb)) = 0 THEN 1.0{_D}
              ELSE 1.0{_D} - abs(length(sa) - length(sb)) / greatest(length(sa), length(sb)) END)
              >= 0.99{_D}
           THEN 1.0{_D} - levenshtein(sa, sb) / greatest(length(sa), length(sb))
         ELSE 1.0{_D} - abs(length(sa) - length(sb)) / greatest(length(sa), length(sb))
    END AS lev_sim_sorted
  FROM base
),
gate AS (
  SELECT *,
    (((mh <= 8 AND lev_sim_sorted < 0.4{_D})
      OR lev_sim >= 2.0{_D} * 0.99{_D} - 1.0{_D}) AND ta != tb) AS need
  FROM lv
),
{_jwin_cte("gate", "need")},
{jw_ctes()},
final AS (
  SELECT doc_a, doc_b, jw, lev_sim, lev_sim_sorted, text_sim,
    min_hamming,
    0.6{_D} * text_sim + 0.4{_D} * (1.0{_D} - least(min_hamming, 16) / 16.0{_D}) AS score,
    ((min_hamming <= 8 AND text_sim >= 0.4{_D}) OR text_sim >= 0.99{_D}) AS is_match
  FROM (
    SELECT g.doc_a, g.doc_b, jwv.jw, g.lev_sim, g.lev_sim_sorted,
      greatest(
        CASE WHEN jwv.jw IS NOT NULL THEN (jwv.jw + g.lev_sim) / 2.0{_D}
             ELSE g.lev_sim END,
        g.lev_sim_sorted) AS text_sim,
      g.mh AS min_hamming
    FROM gate g LEFT JOIN jwv ON jwv.doc_a = g.doc_a AND jwv.doc_b = g.doc_b
  )
)"""


# ---------------------------------------------------------------------------
# connected components (operators/cluster.py large-star/small-star result)
# ---------------------------------------------------------------------------
def cc_ctes() -> str:
    """Transitive min-label closure over the accepted match edges: the
    iterative large-star/small-star loop's RESULT (entity_id = min doc_id
    of the component, singletons = their own id) is order-free, so a
    recursive label-propagation CTE with UNION dedup reproduces it exactly;
    row count is bounded by sum(component_size^2) — fine at fixture scale,
    which is the only scale the oracle runs at."""
    return """edges AS (SELECT doc_a, doc_b FROM final WHERE is_match),
sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM edges
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM edges
),
cc AS (
  SELECT doc_id, doc_id AS lbl FROM ids
  UNION
  SELECT s.dst AS doc_id, c.lbl FROM cc c JOIN sym s ON s.src = c.doc_id
),
clus AS (SELECT doc_id, min(lbl) AS entity_id FROM cc GROUP BY doc_id)"""


# ---------------------------------------------------------------------------
# public builders (one per driver surface)
# ---------------------------------------------------------------------------
def matches_sql(spans_path: str) -> str:
    """er_matches: cascade-scored pairs WHERE is_match (9 columns)."""
    return f"""
WITH RECURSIVE {kernel_ctes(spans_path)},
{pairs_feats_ctes("er_matches oracle")},
{cascade_scored_ctes()}
SELECT doc_a, doc_b, jw, lev_sim, lev_sim_sorted, text_sim, min_hamming,
       score, is_match
FROM final WHERE is_match
"""


def clusters_sql(
    spans_path: str,
    extra_flat_values: str = "",
    exclude_doc_ids: tuple[str, ...] = (),
    where: str = "",
) -> str:
    """(doc_id, entity_id) for every doc: cascade scorer -> match edges ->
    min-label closure.  ``extra_flat_values`` / ``exclude_doc_ids`` support
    the deletion surface; ``where`` its output filter."""
    return f"""
WITH RECURSIVE {kernel_ctes(spans_path, extra_flat_values, exclude_doc_ids)},
{pairs_feats_ctes("er_clusters oracle")},
{cascade_scored_ctes()},
{cc_ctes()}
SELECT doc_id, entity_id FROM clus {where}
"""


def eval_f1_sql(spans_path: str, labels_path: str) -> str:
    """er_eval_f1: pairwise P/R/F1 over co-blocked labeled pairs — the
    north-rule acceptance metric, re-derived from labels + block keys +
    the SQL clusters (plans/eval.pairwise_f1 semantics, Python float
    division and round(x, 6) replicated as DOUBLE division + round)."""
    return f"""
WITH RECURSIVE {kernel_ctes(spans_path)},
{pairs_feats_ctes("er_eval_f1 oracle")},
{cascade_scored_ctes()},
{cc_ctes()},
labels AS (SELECT * FROM read_parquet('{labels_path}')),
elig AS (
  SELECT DISTINCT l.doc_a, l.doc_b, l.is_match
  FROM labels l
  JOIN allk ka ON ka.doc_id = l.doc_a
  JOIN allk kb ON kb.doc_id = l.doc_b AND kb.bkey = ka.bkey
),
judged AS (
  SELECT e.is_match, (ca.entity_id = cb.entity_id) AS pred
  FROM elig e
  JOIN clus ca ON ca.doc_id = e.doc_a
  JOIN clus cb ON cb.doc_id = e.doc_b
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_eligible,
         CAST(sum(CASE WHEN is_match AND pred THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         CAST(sum(CASE WHEN NOT is_match AND pred THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         CAST(sum(CASE WHEN is_match AND NOT pred THEN 1 ELSE 0 END) AS BIGINT) AS fn
  FROM judged
),
metrics AS (
  SELECT n_eligible, tp, fp, fn,
    CASE WHEN tp + fp > 0 THEN tp / (tp + fp) ELSE 1.0{_D} END AS p,
    CASE WHEN tp + fn > 0 THEN tp / (tp + fn) ELSE 1.0{_D} END AS r
  FROM agg
)
SELECT n_eligible, tp, fp, fn,
  round(p, 6) AS "precision",
  round(r, 6) AS recall,
  round(CASE WHEN p + r > 0 THEN 2 * p * r / (p + r) ELSE 0.0{_D} END, 6) AS f1
FROM metrics
"""
