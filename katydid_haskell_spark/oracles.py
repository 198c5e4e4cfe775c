"""DuckDB oracle SQL builders for the approximate-dedup / ANN queries.

These re-derive the FULL seeded pipeline math in ANSI-ish SQL (DuckDB
dialect) so the driver's side-by-side gate can hash-compare Spark output
against an independent execution:

- word hash = ``md5_number_lower(w) % (2^31-1)`` — chosen in
  :mod:`operators.dedup` precisely because both numpy (hashlib.md5) and
  DuckDB compute it identically;
- shingle hashes, minhash permutations, simhash bit-spread, LSH hyperplane
  signs and IVF centroids are all deterministic seeded constants, inlined
  as literals by the builders below (the hyperplanes via
  ``similarity._hyperplane``, the centroids via ``similarity.kmeans_unit``
  on the same ordered sample the Spark trainer uses);
- float discipline: values that must hash-match are either bit-identical
  by construction (integer ratios, ordered double folds) or ROUNDed on
  both sides (cosines).

Candidate generation equivalence note: Spark's banded-LSH joins key on
``xxhash64(band slice)``; the oracle compares the slices directly, so the
two differ only if xxhash64 collides (P < 1e-12 at test scale).
"""

from __future__ import annotations

from typing import List

from .operators.dedup import _perm_params
from .operators.similarity import _hyperplane

_M = 2147483647  # 2^31 - 1
_K64 = 11400714819323198485  # 0x9E3779B97F4A7C15
_TWO63 = 9223372036854775808
_TWO64 = 18446744073709551616


def _shingle_ctes(shingle_k: int, table: str = "documents",
                  id_col: str = "doc_id", text_col: str = "text") -> str:
    """CTEs wh (word hashes) + hh (shingle hashes), mirroring
    dedup._word_hashes / dedup._shingle_hash_arr exactly."""
    weights = [pow(31, j, _M) % (1 << 20) for j in range(shingle_k)]
    poly = " + ".join(
        f"wh[i+{j}]*{w}" if j else f"wh[i]*{w}"
        for j, w in enumerate(weights)
    )
    return f"""
    wh AS (
      SELECT {id_col} AS doc_id,
             list_transform(
               list_filter(
                 regexp_split_to_array(lower(COALESCE({text_col}, '')),
                                       '[^a-zA-Z0-9'']+'),
                 w -> w != ''),
               w -> CAST(md5_number_lower(w) % {_M} AS BIGINT)) AS wh
      FROM {table}
    ),
    hh AS (
      SELECT doc_id,
        CASE
          WHEN len(wh) >= {shingle_k} THEN
            list_transform(range(1, len(wh) - {shingle_k} + 2),
                           i -> ({poly}) % {_M})
          WHEN len(wh) = 0 THEN [CAST(0 AS BIGINT)]
          ELSE [list_reduce(wh, (a, b) -> (a*31 + b) % {_M})]
        END AS hh
      FROM wh
    )"""


def _minhash_cand_ctes(num_hashes: int, bands: int, shingle_k: int,
                       max_bucket: int) -> str:
    """CTE chain ``wh → hh → sig → banded → capped → cand`` mirroring
    minhash_features + dedup._lsh_candidates, INCLUDING the deterministic
    per-(band, key) ``max_bucket`` cap (QUALIFY row_number ordered by
    doc_id — same bucket membership, same order, so the capped candidate
    sets match; inactive at oracle scale but mirrored so the
    formulations stay line-for-line comparable).  The oracle keys
    buckets by the band's signature tuple where Spark keys by
    ``xxhash64(slice)`` — identical partitions unless xxhash64 collides
    (P < 1e-12 at test scale)."""
    perms = _perm_params(num_hashes)
    rpb = num_hashes // bands
    sig_exprs = ",\n             ".join(
        f"list_min(list_transform(hh, h -> (h*{a} + {b}) % {_M})) AS s{p}"
        for p, (a, b) in enumerate(perms)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"s{i}" for i in range(b * rpb, (b + 1) * rpb))
        + ") AS key FROM sig"
        for b in range(bands)
    )
    return f"""{_shingle_ctes(shingle_k)},
    sig AS (SELECT doc_id, hh,
             {sig_exprs}
            FROM hh),
    banded AS (
      {band_rows}
    ),
    capped AS (
      SELECT doc_id, band, key FROM banded
      QUALIFY ROW_NUMBER() OVER (PARTITION BY band, key
                                 ORDER BY doc_id) <= {max_bucket}
    ),
    cand AS (
      SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      FROM capped l JOIN capped r
        ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
    )"""


def minhash_pairs_sql(num_hashes: int = 32, bands: int = 8,
                      shingle_k: int = 3, min_jaccard: float = 0.4,
                      max_bucket: int = 512) -> str:
    """Full banded-LSH pipeline in SQL (see :func:`_minhash_cand_ctes`)."""
    # jaccard is an exact integer ratio evaluated as one double division on
    # both sides — bit-identical, deliberately NOT rounded (ROUND itself can
    # differ between engines at half-ulp boundaries).
    return f"""
    WITH {_minhash_cand_ctes(num_hashes, bands, shingle_k, max_bucket)},
    withsets AS (
      SELECT c.id_a, c.id_b, a.hh AS hh_a, b.hh AS hh_b
      FROM cand c
      JOIN hh a ON a.doc_id = c.id_a
      JOIN hh b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             CAST(len(list_intersect(hh_a, hh_b)) AS DOUBLE)
               / NULLIF(len(list_distinct(hh_a)) + len(list_distinct(hh_b))
                        - len(list_intersect(hh_a, hh_b)), 0) AS jaccard
      FROM withsets)
    WHERE jaccard >= {min_jaccard}
    """


def minhash_verify_sql(num_hashes: int = 32, bands: int = 8,
                       shingle_k: int = 3, k: int = 3,
                       min_jaccard: float = 0.3,
                       max_bucket: int = 512) -> str:
    """The end-to-end production recipe in SQL: banded-LSH candidates
    (full signature math, capped buckets) verified by exact word-k-gram
    Jaccard — mirrors dedup.minhash_verified_pairs, including the
    ``short_fallback`` whole-text gram for docs shorter than k words."""
    gram_expr = (
        f"list_distinct(CASE WHEN len(ws) >= {k} "
        f"THEN [array_to_string(ws[i:i+{k - 1}], ' ') "
        f"for i in range(1, len(ws)-{k - 2})] "
        "ELSE [array_to_string(ws, ' ')] END)"
    )
    return f"""
    WITH {_minhash_cand_ctes(num_hashes, bands, shingle_k, max_bucket)},
    ws_t AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(COALESCE(text, '')),
                         '[^a-zA-Z0-9'']+'), w -> w != '') AS ws
      FROM documents
    ),
    gr AS (SELECT doc_id, {gram_expr} AS sh FROM ws_t),
    verif AS (
      SELECT c.id_a, c.id_b, a.sh AS sh_a, b.sh AS sh_b
      FROM cand c
      JOIN gr a ON a.doc_id = c.id_a
      JOIN gr b ON b.doc_id = c.id_b
    )
    SELECT id_a, id_b, jaccard FROM (
      SELECT id_a, id_b,
             CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
               / NULLIF(len(sh_a) + len(sh_b)
                        - len(list_intersect(sh_a, sh_b)), 0) AS jaccard
      FROM verif)
    WHERE jaccard >= {min_jaccard}
    """


def winnow_fingerprints_sql(shingle_k: int = 5, window: int = 4) -> str:
    """Winnowing sketch in SQL: same wh→hh chain, then the window-min
    selection (list comprehension over sliding windows) with the same
    ≤window whole-min fallback as the UDF."""
    w = window
    return f"""
    WITH {_shingle_ctes(shingle_k)},
    fps AS (
      SELECT doc_id,
             CASE WHEN len(hh) <= {w} THEN [list_min(hh)]
                  ELSE list_sort(list_distinct(
                       [list_min(hh[i:i+{w - 1}])
                        for i in range(1, len(hh)-{w}+2)]))
             END AS fp
      FROM hh
    )
    SELECT doc_id, CAST(unnest(fp) AS BIGINT) AS fp FROM fps
    """


def simhash_pairs_sql(max_hamming: int = 8, shingle_k: int = 2) -> str:
    """Full simhash pipeline in SQL.  The Spark operator's ``max_bucket``
    cap (512) cannot bind at oracle scale (sf0.01 = 500 docs), so it is
    intentionally not replicated."""
    cnt_exprs = ",\n             ".join(
        f"SUM(CASE WHEN (h64 // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS c{i}"
        for i in range(64)
    )
    pack_expr = "\n             + ".join(
        f"CASE WHEN c{i} > 0 THEN CAST({1 << i} AS HUGEINT) ELSE 0 END"
        for i in range(64)
    )
    band_keys = ",\n             ".join(
        f"CAST((up // {1 << (16 * b)}) % 65536 AS BIGINT) AS k{b}"
        for b in range(4)
    )
    return f"""
    WITH {_shingle_ctes(shingle_k)},
    shr AS (
      SELECT doc_id,
             CAST((UNNEST(hh)::HUGEINT * {_K64}) % {_TWO64} AS HUGEINT) AS h64
      FROM hh
    ),
    cnt AS (SELECT doc_id,
             {cnt_exprs}
            FROM shr GROUP BY doc_id),
    packed AS (SELECT doc_id,
             ({pack_expr}) AS up
            FROM cnt),
    sh AS (SELECT doc_id,
             CAST(CASE WHEN up >= {_TWO63} THEN up - {_TWO64} ELSE up END
                  AS BIGINT) AS sh,
             {band_keys}
           FROM packed)
    SELECT id_a, id_b, hamming FROM (
      SELECT l.doc_id AS id_a, r.doc_id AS id_b,
             CAST(bit_count(xor(l.sh, r.sh)) AS INT) AS hamming
      FROM sh l JOIN sh r
        ON l.doc_id < r.doc_id
       AND (l.k0 = r.k0 OR l.k1 = r.k1 OR l.k2 = r.k2 OR l.k3 = r.k3))
    WHERE hamming <= {max_hamming}
    """


def _plane_lit(dim: int, bit: int, seed: int) -> str:
    return "[" + ", ".join(repr(w) for w in _hyperplane(dim, bit, seed)) + "]"


def _code_expr(vec: str, dim: int, n_bits: int, seed: int) -> str:
    """Packed sign-bit code — list_inner_product over DOUBLE[] matches the
    Spark Catalyst dot() (double-widened elements, ordered fold)
    bit-for-bit.

    CAVEAT (float discipline): the bit-for-bit claim holds for the
    CATALYST formulation only.  The Arrow hot path
    (``similarity.lsh_codes_udf`` etc.) computes the same dots via BLAS
    matmul, whose summation order differs; a dot within reordering error
    of 0.0 (~ulp scale for these 64-dim unit-ish vectors) could flip a
    sign bit and diverge bucket membership from this oracle.  Accepted
    risk, deterministic per (BLAS build, shape) — see
    ``similarity.lsh_codes_udf``'s docstring for the same caveat."""
    terms = " + ".join(
        f"CASE WHEN list_inner_product(CAST({vec} AS DOUBLE[]), "
        f"{_plane_lit(dim, b, seed)}) >= 0 THEN {1 << b} ELSE 0 END"
        for b in range(n_bits)
    )
    return f"CAST({terms} AS BIGINT)"


def lsh_topk_sql(dim: int = 64, k: int = 10, n_bits: int = 8,
                 nprobe: int = 3, n_tables: int = 1,
                 seed: int = 1234) -> str:
    """Query-directed multiprobe + multi-table LSH oracle: same probe
    selection as ``similarity.lsh_probe_codes_udf`` — base bucket + flips
    of the ``nprobe-1`` smallest-|dot| bits, ties broken by bit index (the
    ``list_sort`` over (|dot|, bit, weight) structs sorts field-order
    lexicographically, matching numpy's stable argsort); one independent
    hyperplane set per table (seed+t), candidates unioned across tables
    before the DISTINCT + rank."""
    take = min(max(nprobe - 1, 0), n_bits)

    def table_ctes(t: int) -> str:
        s = seed + t
        dot_cols = ",\n             ".join(
            f"list_inner_product(CAST(embedding AS DOUBLE[]), "
            f"{_plane_lit(dim, b, s)}) AS d{b}"
            for b in range(n_bits)
        )
        code_over_dots = "CAST(" + " + ".join(
            f"CASE WHEN d{b} >= 0 THEN {1 << b} ELSE 0 END"
            for b in range(n_bits)) + " AS BIGINT)"
        flip_arr = "[" + ", ".join(
            f"{{'a': abs(d{b}), 'i': {b}, 'w': {1 << b}}}"
            for b in range(n_bits)) + "]"
        probe_list = (
            "list_prepend(qcode, list_transform("
            f"list_sort(flips)[1:{take}], "
            "x -> xor(qcode, CAST(x.w AS BIGINT))))"
            if take > 0 else "[qcode]"
        )
        return f"""
    d{t} AS (
      SELECT vec_id, embedding,
             {dot_cols}
      FROM embeddings
    ),
    c{t} AS (
      SELECT vec_id, embedding, {code_over_dots} AS code FROM d{t}
    ),
    q{t} AS (SELECT vec_id AS q_id, embedding AS qv,
                 {code_over_dots} AS qcode, {flip_arr} AS flips
          FROM d{t} WHERE vec_id < 5),
    probes{t} AS (SELECT q_id, qv, UNNEST({probe_list}) AS code FROM q{t}),
    cand{t} AS (
      SELECT q_id, c{t}.vec_id,
             list_cosine_similarity(CAST(c{t}.embedding AS DOUBLE[]),
                                    CAST(p.qv AS DOUBLE[])) AS cos0
      FROM c{t} JOIN probes{t} p USING (code)
    )"""

    ctes = ",".join(table_ctes(t) for t in range(n_tables))
    union = "\n      UNION ALL\n      ".join(
        f"SELECT * FROM cand{t}" for t in range(n_tables))
    return f"""
    WITH {ctes},
    cand AS (SELECT DISTINCT q_id, vec_id, cos0 FROM ({union}))
    SELECT q_id, vec_id, rank, ROUND(cos0, 4) AS cos FROM (
      SELECT q_id, vec_id, cos0,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos0 DESC, vec_id) AS rank
      FROM cand)
    WHERE rank <= {k}
    """


def embedding_neardup_sql(dim: int = 64, min_cos: float = 0.9,
                          n_bits: int | None = 8, seed: int = 99,
                          bands: int = 3,
                          sf_dir: str | None = None,
                          target_bucket_size: int = 8) -> str:
    """``n_bits=None`` derives the bucket sizing the same way the operator
    does: count the corpus parquet and apply the shared
    ``similarity.auto_n_bits`` — both sides land on identical plane
    literals, keeping the driver hash gate exact."""
    if n_bits is None:
        import duckdb

        from .operators.similarity import auto_n_bits

        con = duckdb.connect()
        n = con.execute(
            f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()[0]
        con.close()
        n_bits = auto_n_bits(n, target_bucket_size)
    band_conds = " OR ".join(f"l.c{b} = r.c{b}" for b in range(bands))
    code_cols = ",\n             ".join(
        f"{_code_expr('embedding', dim, n_bits, seed + b)} AS c{b}"
        for b in range(bands)
    )
    return f"""
    WITH c AS (
      SELECT vec_id, embedding,
             {code_cols}
      FROM embeddings
    )
    SELECT id_a, id_b, ROUND(cos0, 4) AS cos FROM (
      SELECT l.vec_id AS id_a, r.vec_id AS id_b,
             list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                    CAST(r.embedding AS DOUBLE[])) AS cos0
      FROM c l JOIN c r
        ON l.vec_id < r.vec_id AND ({band_conds}))
    WHERE cos0 >= {min_cos}
    """


def ivf_topk_sql(sf_dir: str, dim: int = 64, k: int = 10,
                 n_cells: int | None = 16,
                 nprobe: int | None = 4, sample: int = 4096, iters: int = 8,
                 seed: int = 5) -> str:
    """IVF oracle: centroids re-derived from the SAME ordered training
    sample the Spark trainer reads (``ORDER BY vec_id LIMIT sample``) via
    the shared ``kmeans_unit`` — bit-identical float64 constants — then
    cell assignment / probing / ranking expressed in SQL.

    ``n_cells=None`` derives the cell count exactly as the operator does:
    count the corpus parquet, apply the shared ``similarity.auto_n_cells``
    — both sides train the identical quantizer."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    if n_cells is None:
        from .operators.similarity import auto_n_cells

        n = con.execute(
            f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
        ).fetchone()[0]
        n_cells = auto_n_cells(n)
    if nprobe is None:
        from .operators.similarity import auto_nprobe

        nprobe = auto_nprobe(n_cells)
    rows = con.execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    con.close()
    from .operators.similarity import kmeans_unit

    x = np.array([r[0] for r in rows], dtype=np.float64)
    cents: List[List[float]] = kmeans_unit(x, n_cells, iters, seed)

    def cent_lit(c):
        return "[" + ", ".join(repr(w) for w in c) + "]"

    sim_cols = ",\n             ".join(
        f"CASE WHEN nrm > 0 THEN list_inner_product(vd, {cent_lit(c)}) / nrm "
        f"ELSE 0.0 END AS sim{i}"
        for i, c in enumerate(cents)
    )
    cells_values = ", ".join(f"({i})" for i in range(len(cents)))
    sim_case = "CASE cell " + " ".join(
        f"WHEN {i} THEN sim{i}" for i in range(len(cents))
    ) + " END"
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS vd,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    sims AS (
      SELECT vec_id, embedding,
             {sim_cols}
      FROM base
    ),
    cellsims AS (
      SELECT s.*, c.cell, {sim_case} AS sim
      FROM sims s CROSS JOIN (VALUES {cells_values}) AS c(cell)
    ),
    ccell AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT vec_id, embedding, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell ASC) AS rn
        FROM cellsims) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS q_id, embedding AS qv, cell FROM (
        SELECT vec_id, embedding, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell DESC) AS rn
        FROM cellsims WHERE vec_id < 5) WHERE rn <= {nprobe}
    ),
    cand AS (
      SELECT DISTINCT q_id, c.vec_id,
             list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                    CAST(q.qv AS DOUBLE[])) AS cos0
      FROM ccell c JOIN qprobe q USING (cell)
    )
    SELECT q_id, vec_id, rank, ROUND(cos0, 4) AS cos FROM (
      SELECT q_id, vec_id, cos0,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos0 DESC, vec_id) AS rank
      FROM cand)
    WHERE rank <= {k}
    """


def temperature_sample_sql(sf_dir: str, alpha: float = 0.5,
                           total: int = 300, seed: str = "temp-v1",
                           table: str = "documents",
                           group_col: str = "lang",
                           id_col: str = "doc_id") -> str:
    """Temperature-mixing oracle: per-group counts re-derived from the
    same parquet, fed through the SHARED ``mixing.temperature_targets``
    (identical Python floats → identical integer targets on both
    sides), then the quota_sample full-window seeded-md5 rank form —
    the operator's two-phase prefix cut keeps winners identical to the
    full-window order by construction."""
    import duckdb

    from .operators.mixing import temperature_targets

    con = duckdb.connect()
    counts = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT {group_col}, COUNT(*) FROM "
            f"'{sf_dir}/{table}.parquet' WHERE {group_col} IS NOT NULL "
            f"GROUP BY 1").fetchall()
    }
    con.close()
    quotas = temperature_targets(counts, alpha, total)
    values = ", ".join(f"('{g}', {q})" for g, q in sorted(quotas.items()))
    return f"""
    WITH q({group_col}, quota) AS (VALUES {values})
    SELECT d.{group_col}, d.{id_col}
    FROM {table} d JOIN q ON d.{group_col} = q.{group_col}
    QUALIFY row_number() OVER (
      PARTITION BY d.{group_col}
      ORDER BY md5('{seed}' || chr(31)
                   || CAST(d.{id_col} AS VARCHAR)), d.{id_col}
    ) <= q.quota
    """


def _ccell_with(sf_dir: str, dim: int, target_cell_size: int,
                sample: int, iters: int, seed: int) -> str:
    """WITH-block prefix ending at the ``ccell`` CTE (vec_id, embedding,
    cell): centroids re-derived from the SAME ordered training sample the
    Spark trainer reads via the shared ``kmeans_unit`` (bit-identical
    float64 constants), the cell count via the shared
    ``similarity.auto_dedup_cells`` from the same parquet count;
    assignment sim DESC, cell ASC — first-max ties, the ivf_topk_sql
    discipline.  Shared by semantic_dedup_sql and semantic_route_sql."""
    import duckdb
    import numpy as np

    from .operators.similarity import auto_dedup_cells, kmeans_unit

    con = duckdb.connect()
    n = con.execute(
        f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    n_cells = auto_dedup_cells(n, target_cell_size)
    rows = con.execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    con.close()
    x = np.array([r[0] for r in rows], dtype=np.float64)
    cents: List[List[float]] = kmeans_unit(x, n_cells, iters, seed)

    def cent_lit(c):
        return "[" + ", ".join(repr(w) for w in c) + "]"

    sim_cols = ",\n             ".join(
        f"CASE WHEN nrm > 0 THEN list_inner_product(vd, {cent_lit(c)}) / nrm "
        f"ELSE 0.0 END AS sim{i}"
        for i, c in enumerate(cents)
    )
    cells_values = ", ".join(f"({i})" for i in range(len(cents)))
    sim_case = "CASE cell " + " ".join(
        f"WHEN {i} THEN sim{i}" for i in range(len(cents))
    ) + " END"
    return f"""
    WITH base AS (
      SELECT vec_id, embedding, CAST(embedding AS DOUBLE[]) AS vd,
             sqrt(list_inner_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm
      FROM embeddings
    ),
    sims AS (
      SELECT vec_id, embedding,
             {sim_cols}
      FROM base
    ),
    cellsims AS (
      SELECT s.*, c.cell, {sim_case} AS sim
      FROM sims s CROSS JOIN (VALUES {cells_values}) AS c(cell)
    ),
    ccell AS (
      SELECT vec_id, embedding, cell FROM (
        SELECT vec_id, embedding, cell,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY sim DESC, cell ASC) AS rn
        FROM cellsims) WHERE rn = 1
    )"""


def semantic_dedup_sql(sf_dir: str, dim: int = 64, min_cos: float = 0.4,
                       target_cell_size: int = 32, sample: int = 4096,
                       iters: int = 8, seed: int = 5) -> str:
    """SemDeDup oracle: the shared ccell derivation (:func:`_ccell_with`),
    then within-cell pairing and the keep-lowest-id verdict in SQL.  The
    ``>= min_cos`` comparison is NOT rounded: the threshold margin is
    verified to dwarf summation-order noise at every shipped SF
    (test_semantic_dedup_threshold_margin)."""
    prefix = _ccell_with(sf_dir, dim, target_cell_size, sample, iters, seed)
    return f"""{prefix},
    dropped AS (
      SELECT DISTINCT r.vec_id
      FROM ccell l JOIN ccell r USING (cell)
      WHERE l.vec_id < r.vec_id
        AND list_cosine_similarity(CAST(l.embedding AS DOUBLE[]),
                                   CAST(r.embedding AS DOUBLE[]))
            >= {min_cos}
    )
    SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
           (d.vec_id IS NULL) AS kept
    FROM ccell c LEFT JOIN dropped d ON c.vec_id = d.vec_id
    """


def retrieval_pairs_sql(sf_dir: str, k_pos: int = 3, k_neg: int = 3,
                        seed: str = "neg-v1",
                        pool_factor: int = 100) -> str:
    """Contrastive-pair oracle: brute top-k positives + the TWO-stage
    negative draw of ``similarity.contrastive_pairs``.

    The negative-pool hash cutoff is re-derived exactly as the operator
    does — count the corpus parquet, apply the shared
    ``similarity.neg_pool_cutoff`` — so both engines keep the identical
    pool set (md5 hex compares lexicographically = numerically on both).
    The pool filter is what bounds the per-query negative window: the
    pre-r7 oracle (and operator) ranked the full queries x corpus
    cartesian per query.
    """
    import duckdb

    from .operators.similarity import neg_pool_cutoff

    con = duckdb.connect()
    n = con.execute(
        f"SELECT COUNT(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    con.close()
    cutoff = neg_pool_cutoff(n, k_neg, pool_factor)
    return f"""
    WITH top AS (
      SELECT q_id, vec_id, rank FROM (
        SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY list_cosine_similarity(
                            c.embedding, q.embedding) DESC,
                          c.vec_id) AS rank
        FROM embeddings c, embeddings q
        WHERE q.vec_id < 5
      ) WHERE rank <= {k_pos + 1}
    ), pos AS (
      SELECT q_id, vec_id AS cand_id,
             ROW_NUMBER() OVER (
               PARTITION BY q_id ORDER BY rank) AS prank
      FROM top WHERE vec_id <> q_id
      QUALIFY prank <= {k_pos}
    ), pool AS (
      SELECT vec_id AS cand_id FROM embeddings
      WHERE md5('{seed}' || chr(31) || 'pool' || chr(31)
                || CAST(vec_id AS VARCHAR)) < '{cutoff}'
    ), neg AS (
      SELECT q.vec_id AS q_id, c.cand_id AS cand_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY md5('{seed}' || chr(31)
                            || CAST(q.vec_id AS VARCHAR) || chr(31)
                            || CAST(c.cand_id AS VARCHAR)),
                        c.cand_id) AS rank
      FROM embeddings q, pool c
      WHERE q.vec_id < 5 AND c.cand_id <> q.vec_id
        AND NOT EXISTS (SELECT 1 FROM pos p
                        WHERE p.q_id = q.vec_id
                          AND p.cand_id = c.cand_id)
      QUALIFY rank <= {k_neg}
    )
    SELECT q_id, cand_id, 'pos' AS label,
           CAST(prank AS BIGINT) AS rank FROM pos
    UNION ALL
    SELECT q_id, cand_id, 'neg' AS label,
           CAST(rank AS BIGINT) AS rank FROM neg
    """


def _pages_row_rule_sql() -> list:
    """``(rule_id, DuckDB condition)`` for the six pages row rules of
    plans/pages_plan.default_pages_plan; a row passes iff its condition
    is TRUE."""
    from .plans.pages_plan import TS_MAX, TS_MIN

    return [
        ("url_scheme", "regexp_matches(url, '^https?://')"),
        ("url_host_dot", r"regexp_matches(url, '^https?://[^/]+\.')"),
        ("text_nonempty", "length(text) > 0"),
        ("lang_shape",
         "lang IS NOT NULL AND regexp_matches(lang, '^[a-z]{2}$')"),
        ("warc_ts_range",
         f"epoch(warc_ts) >= {TS_MIN} AND epoch(warc_ts) < {TS_MAX}"),
        ("html_title", "starts_with(text, 'Page ')"),
    ]


def pages_verdicts_sql(n_rows: int = 2000, seed: int = 42,
                       buckets: int = 16, snapshot: str = "bench") -> str:
    """The pages constraint-suite verdicts, re-derived end-to-end in SQL.

    The pages corpus is regenerated Spark-free (sources/pages_fixture —
    byte-identical by the partition-invariance contract, bucket via the
    verified pure-Python xxh64) and every rule class is re-expressed:
    row-rule rollup per bucket, stat / uniqueness / referential checks, and
    the PSI/KL drift math of operators/drift.py (eps smoothing included).
    Float discipline: `metric` is ROUND(…, 6) on both sides (drift sums are
    order-dependent in the last bits); pass/fail uses the unrounded value
    on both sides, as the Spark plan does.
    """
    from .plans.pages_plan import TS_MAX, TS_MIN
    from .sources.pages import ISO_639_1
    from .sources.pages_fixture import ensure_pages_fixture

    pd_path = ensure_pages_fixture(n_rows, seed, buckets, drifted=True)
    pb_path = ensure_pages_fixture(n_rows, seed, buckets, drifted=False)
    iso = ", ".join(f"'{c}'" for c in ISO_639_1)
    expect = int(n_rows * 0.9)

    row_rules = _pages_row_rule_sql()
    np_cols = ",\n        ".join(
        f"SUM(CASE WHEN {cond} THEN 1 ELSE 0 END) AS np{i}"
        for i, (_, cond) in enumerate(row_rules)
    )
    rowv = "\n      UNION ALL ".join(
        f"SELECT CAST(bucket AS INT) AS bucket_id, '{rid}' AS rule_id, "
        f"np{i} = rc AS pass, ROUND(CAST(np{i} AS DOUBLE) / rc, 6) AS metric, "
        f"CAST(rc AS BIGINT) AS rows_checked FROM rowagg"
        for i, (rid, _) in enumerate(row_rules)
    )

    def drift_cte(tag, bucket_expr, metric_expr):
        return f"""
    cur_{tag} AS (SELECT {bucket_expr} AS bucket, COUNT(*) AS cnt_p
                  FROM pages GROUP BY 1),
    base_{tag} AS (SELECT {bucket_expr} AS bucket, COUNT(*) AS cnt_q
                   FROM basepages GROUP BY 1),
    j_{tag} AS (SELECT COALESCE(cnt_p, 0) AS cnt_p, COALESCE(cnt_q, 0) AS cnt_q
                FROM cur_{tag} FULL OUTER JOIN base_{tag} USING (bucket)),
    t_{tag} AS (SELECT SUM(cnt_p) AS np, SUM(cnt_q) AS nq, COUNT(*) AS k
                FROM j_{tag}),
    p_{tag} AS (SELECT (cnt_p + 1e-6) / (np + k * 1e-6) AS p,
                       (cnt_q + 1e-6) / (nq + k * 1e-6) AS q
                FROM j_{tag}, t_{tag}),
    d_{tag} AS (SELECT {metric_expr} AS m FROM p_{tag})"""

    len_bucket = "CAST(FLOOR(COALESCE(length(text), -1) / 50.0) AS BIGINT)"
    day_bucket = "CAST(FLOOR(epoch(warc_ts) / 86400.0) AS BIGINT)"

    return f"""
    WITH pages AS (SELECT * FROM read_parquet('{pd_path}')),
    basepages AS (SELECT * FROM read_parquet('{pb_path}')),
    rowagg AS (
      SELECT bucket, COUNT(*) AS rc,
        {np_cols}
      FROM pages GROUP BY bucket),
    rowv AS (
      {rowv}
    ),
    stat AS (SELECT COUNT(*) AS n, COUNT(text) AS nt, COUNT(lang) AS nl,
                    MIN(warc_ts) AS tmin, MAX(warc_ts) AS tmax,
                    COUNT(DISTINCT url) AS du
             FROM pages),
    uq AS (SELECT COUNT(*) AS dup_keys FROM
             (SELECT url FROM pages GROUP BY url HAVING COUNT(*) > 1)),
    ref AS (SELECT COUNT(*) AS orphans FROM pages
            WHERE lang IS NULL OR lang NOT IN ({iso})),
    {drift_cte("len", len_bucket, "SUM((p - q) * ln(p / q))")},
    {drift_cte("day", day_bucket, "SUM(p * ln(p / q))")},
    tablev AS (
      SELECT 'text_null_rate' AS rule_id,
             CAST(n - nt AS DOUBLE) / n <= 0.01 AS pass,
             ROUND(CAST(n - nt AS DOUBLE) / n, 6) AS metric FROM stat
      UNION ALL
      SELECT 'lang_null_rate', CAST(n - nl AS DOUBLE) / n <= 0.02,
             ROUND(CAST(n - nl AS DOUBLE) / n, 6) FROM stat
      UNION ALL
      SELECT 'ts_min_in_window', epoch(tmin) >= {TS_MIN},
             ROUND(CAST(epoch(tmin) AS DOUBLE), 6) FROM stat
      UNION ALL
      SELECT 'ts_max_in_window', epoch(tmax) < {TS_MAX},
             ROUND(CAST(epoch(tmax) AS DOUBLE), 6) FROM stat
      UNION ALL
      SELECT 'url_distinct', du >= {expect},
             ROUND(CAST(du AS DOUBLE), 6) FROM stat
      UNION ALL
      SELECT 'unique_url', dup_keys = 0,
             ROUND(CAST(dup_keys AS DOUBLE), 6) FROM uq
      UNION ALL
      SELECT 'lang_in_iso639', orphans = 0,
             ROUND(CAST(orphans AS DOUBLE), 6) FROM ref
      UNION ALL
      SELECT 'text_len_drift', m <= 0.2, ROUND(m, 6) FROM d_len
      UNION ALL
      SELECT 'warc_ts_drift', m <= 0.25, ROUND(m, 6) FROM d_day
    )
    SELECT bucket_id, rule_id, pass, metric, rows_checked,
           '{snapshot}' AS snapshot
    FROM rowv
    UNION ALL
    SELECT -1 AS bucket_id, rule_id, pass, metric,
           CAST(0 AS BIGINT) AS rows_checked, '{snapshot}' AS snapshot
    FROM tablev
    """


def pages_violations_sql(n_rows: int = 2000, seed: int = 42,
                         buckets: int = 16) -> str:
    """The pages constraint-suite violations ``(url, rule_id, detail)``,
    re-derived in SQL over the same Spark-free fixture as
    pages_verdicts_sql: one row per (row, failing row rule), one per
    ``lang_in_iso639`` orphan, one per duplicated url with its count."""
    from .plans.pages_plan import default_pages_plan
    from .sources.pages import ISO_639_1
    from .sources.pages_fixture import ensure_pages_fixture

    pd_path = ensure_pages_fixture(n_rows, seed, buckets, drifted=True)
    iso = ", ".join(f"'{c}'" for c in ISO_639_1)
    details = {r.rule_id: r.detail for r in default_pages_plan().row_rules}
    rowviol = "\n      UNION ALL ".join(
        f"SELECT url, '{rid}' AS rule_id, '{details[rid]}' AS detail "
        f"FROM pages WHERE NOT COALESCE({cond}, FALSE)"
        for rid, cond in _pages_row_rule_sql()
    )
    return f"""
    WITH pages AS (SELECT * FROM read_parquet('{pd_path}'))
    {rowviol}
    UNION ALL
    SELECT url, 'lang_in_iso639',
           'lang=' || COALESCE(lang, 'NULL') || ' not in dimension'
    FROM pages WHERE lang IS NULL OR lang NOT IN ({iso})
    UNION ALL
    SELECT url, 'unique_url', 'duplicate count=' || CAST(COUNT(*) AS VARCHAR)
    FROM pages GROUP BY url HAVING COUNT(*) > 1
    """


def host_skew_sql(n_rows: int = 2000, seed: int = 42, buckets: int = 16,
                  min_fraction: float = 0.01) -> str:
    """Exact heavy-hitter hosts of the pages corpus, re-derived from the
    Spark-free pages fixture (same byte-identity contract as
    pages_verdicts_sql) — the oracle for skew.heavy_hitters(approx=False)
    over skew.with_host."""
    from .sources.pages_fixture import ensure_pages_fixture

    pd_path = ensure_pages_fixture(n_rows, seed, buckets, drifted=True)
    return f"""
    WITH hosts AS (
      SELECT regexp_extract(url, '^[a-z]+://([^/:?#]+)', 1) AS key
      FROM read_parquet('{pd_path}')
    ), counted AS (
      SELECT key, CAST(COUNT(*) AS BIGINT) AS cnt FROM hosts GROUP BY 1
    ), tot AS (SELECT SUM(cnt) AS total FROM counted)
    SELECT key, cnt FROM counted, tot
    WHERE cnt >= total * {min_fraction}
    """


def dedup_clusters_sql(num_hashes: int = 32, bands: int = 8,
                       shingle_k: int = 3, min_jaccard: float = 0.4) -> str:
    """Connected components over the minhash pair graph via a recursive
    transitive-closure CTE: cluster_id = MIN reachable doc id — the same
    canonical-representative contract as operators.dedup.connected_components."""
    pairs = minhash_pairs_sql(num_hashes, bands, shingle_k, min_jaccard)
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT id_a, id_b FROM ({pairs}) p
    ),
    sym(a, b) AS (
      SELECT id_a, id_b FROM pairs UNION SELECT id_b, id_a FROM pairs
    ),
    reach(id, r) AS (
      SELECT a, a FROM sym
      UNION
      SELECT reach.id, sym.b FROM reach JOIN sym ON sym.a = reach.r
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id FROM reach GROUP BY id
    """


def minhash_lookup_sql(num_hashes: int = 32, bands: int = 8,
                       shingle_k: int = 3, min_jaccard: float = 0.4,
                       max_bucket: int = 512,
                       batch_pred: str = "doc_id % 3 = 0") -> str:
    """Incremental-dedup oracle: the corpus (NOT ``batch_pred``) side is
    banded and capped per (band, key) in corpus-id order; the batch side
    probes uncapped; exact Jaccard verifies candidates.  Mirrors
    dedup.minhash_index + dedup.minhash_lookup — change the cap or split
    predicate in BOTH."""
    perms = _perm_params(num_hashes)
    rpb = num_hashes // bands
    sig_exprs = ",\n             ".join(
        f"list_min(list_transform(hh, h -> (h*{a} + {b}) % {_M})) AS s{p}"
        for p, (a, b) in enumerate(perms)
    )
    band_rows = "\n      UNION ALL\n      ".join(
        f"SELECT doc_id, {b} AS band, concat_ws(',', "
        + ", ".join(f"s{i}" for i in range(b * rpb, (b + 1) * rpb))
        + ") AS key FROM sig"
        for b in range(bands)
    )
    return f"""
    WITH {_shingle_ctes(shingle_k)},
    sig AS (SELECT doc_id, hh,
             {sig_exprs}
            FROM hh),
    banded AS (
      {band_rows}
    ),
    idx AS (
      SELECT doc_id AS corpus_id, band, key FROM banded
      WHERE NOT ({batch_pred})
      QUALIFY ROW_NUMBER() OVER (PARTITION BY band, key
                                 ORDER BY doc_id) <= {max_bucket}
    ),
    probe AS (
      SELECT doc_id AS new_id, band, key FROM banded
      WHERE {batch_pred}
    ),
    cand AS (
      SELECT DISTINCT p.new_id, i.corpus_id
      FROM probe p JOIN idx i ON p.band = i.band AND p.key = i.key
    ),
    withsets AS (
      SELECT c.new_id, c.corpus_id,
             list_distinct(a.hh) AS hh_a, list_distinct(b.hh) AS hh_b
      FROM cand c
      JOIN hh a ON a.doc_id = c.new_id
      JOIN hh b ON b.doc_id = c.corpus_id
    )
    SELECT new_id, corpus_id, jaccard FROM (
      SELECT new_id, corpus_id,
             CAST(len(list_intersect(hh_a, hh_b)) AS DOUBLE)
               / NULLIF(len(hh_a) + len(hh_b)
                        - len(list_intersect(hh_a, hh_b)), 0) AS jaccard
      FROM withsets
    ) WHERE jaccard >= {min_jaccard}
    """


def pq_codes_sql(sf_dir: str, dim: int = 64, m: int = 8, ksub: int = 16,
                 sample: int = 2048, iters: int = 8, seed: int = 7) -> str:
    """PQ-code oracle: sub-codebooks re-derived from the SAME ordered
    training sample the Spark trainer reads (``ORDER BY vec_id LIMIT
    sample``) via the shared ``train_pq`` — bit-identical float64
    constants — then each subspace's argmin expressed in SQL with the
    score form the encoder uses: (c.c literal) - 2 *
    list_inner_product(sub, cent).  The inner product is DuckDB's
    left-to-right fold, matched on the Spark side by _ordered_matmul,
    so codes agree bit-exactly (ties break to the lowest code on both
    sides)."""
    import duckdb
    import numpy as np

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id LIMIT {sample}"
    ).fetchall()
    con.close()
    from .operators.similarity import _ordered_sq, train_pq

    x = np.array([r[0] for r in rows], dtype=np.float64)
    books = train_pq(x, m=m, ksub=ksub, iters=iters, seed=seed)
    d = dim // m

    def clit(c):
        return "[" + ", ".join(repr(float(w)) for w in c) + "]"

    score_cols = []
    whens = []
    for j, book in enumerate(books):
        a, b = j * d + 1, (j + 1) * d
        for c, cent in enumerate(book):
            sq = _ordered_sq(cent)
            score_cols.append(
                f"({sq!r}) - 2 * list_inner_product("
                f"CAST(embedding[{a}:{b}] AS DOUBLE[]), {clit(cent)})"
                f" AS s_{j}_{c}")
            whens.append(f"WHEN j = {j} AND c = {c} THEN s_{j}_{c}")
    jc_values = ", ".join(
        f"({j}, {c})" for j in range(m) for c in range(ksub))
    score_block = ",\n             ".join(score_cols)
    return f"""
    WITH sims AS (
      SELECT vec_id,
             {score_block}
      FROM embeddings
    ),
    long AS (
      SELECT vec_id, t.j, t.c,
             CASE {' '.join(whens)} END AS score
      FROM sims CROSS JOIN (VALUES {jc_values}) AS t(j, c)
    ),
    codes AS (
      SELECT vec_id, j, c AS code FROM (
        SELECT vec_id, j, c,
               ROW_NUMBER() OVER (PARTITION BY vec_id, j
                                  ORDER BY score ASC, c ASC) AS rn
        FROM long) WHERE rn = 1
    )
    SELECT vec_id,
           CAST({m} AS BIGINT) AS m,
           CAST(SUM(code) AS BIGINT) AS sum_codes,
           CAST(SUM(j * code) AS BIGINT) AS pos_checksum
    FROM codes
    GROUP BY vec_id
    """


def bpe_train_sql(sf_dir: str, top_v: int = 24, n_merges: int = 60) -> str:
    """Corpus-trained BPE oracle: DuckDB independently re-derives the
    word-frequency table from the SAME parquet (unnest of the shared
    `tx.BPE_ISH` pre-tokenizer, count, ORDER BY n DESC, token LIMIT
    top_v — the vocab_topk form already proven cross-engine), feeds it
    through the SHARED deterministic trainer (`tokenize.train_bpe`,
    lexicographic tie-break), and embeds the resulting merge list as a
    VALUES literal.  Any divergence in Spark's distributed count, the
    top-V boundary, or the trainer shows up as a merge-table hash
    mismatch.  top_v=24 is ACTIVE at sf0.01 (31 distinct tokens) —
    the cutoff itself is under the gate."""
    import duckdb

    from .operators import textops as tx
    from .operators.tokenize import train_bpe

    con = duckdb.connect()
    rows = con.execute(f"""
        SELECT token, COUNT(*) AS n FROM (
          SELECT unnest(regexp_extract_all(
                   lower(COALESCE(text, '')), '{tx.BPE_ISH}')) AS token
          FROM '{sf_dir}/documents.parquet')
        GROUP BY token ORDER BY n DESC, token LIMIT {top_v}
    """).fetchall()
    con.close()
    freqs = {t: int(n) for t, n in rows}
    merges = train_bpe(freqs, n_merges)
    if not merges:
        return ("SELECT CAST(NULL AS BIGINT) AS rank, '' AS lhs, "
                "'' AS rhs, '' AS merged WHERE 1 = 0")

    def q(s: str) -> str:
        return "'" + s.replace("'", "''") + "'"

    vals = ", ".join(
        f"({i + 1}, {q(a)}, {q(b)}, {q(a + b)})"
        for i, (a, b) in enumerate(merges))
    return f"""
    SELECT CAST(rank AS BIGINT) AS rank, lhs, rhs, merged
    FROM (VALUES {vals}) AS t(rank, lhs, rhs, merged)
    """


def semantic_route_sql(sf_dir: str, dim: int = 64,
                       target_cell_size: int = 32, sample: int = 4096,
                       iters: int = 8, seed: int = 5,
                       n_shards: int = 16,
                       shard_seed: str = "shuffle-v1") -> str:
    """Streaming semantic-route oracle: the shared ccell derivation
    plus the <=256-shard two-hex-digit closed form (the shard_shuffle
    literal every route oracle mirrors) — valid for the stream because
    the streaming operator is a pure projection of the same closed
    forms (the stream_route discipline)."""
    prefix = _ccell_with(sf_dir, dim, target_cell_size, sample, iters, seed)
    return f"""{prefix}
    SELECT vec_id, CAST(cell AS INTEGER) AS cell,
           CAST(((strpos('0123456789abcdef', substring(hh, 1, 1)) - 1)
                 * 16
                 + (strpos('0123456789abcdef', substring(hh, 2, 1)) - 1))
                % {n_shards} AS BIGINT) AS shard
    FROM (
      SELECT vec_id, cell,
             md5('{shard_seed}' || chr(31)
                 || CAST(vec_id AS VARCHAR)) AS hh
      FROM ccell)
    """


def semantic_decontam_sql(sf_dir: str, dim: int = 64,
                          min_cos: float = 0.3,
                          target_cell_size: int = 32,
                          sample: int = 4096, iters: int = 8,
                          seed: int = 5,
                          eval_mod: int = 31) -> str:
    """Semantic-decontamination oracle: the shared ccell derivation,
    eval slice = ``vec_id % eval_mod = 0`` (mirroring the operator's
    predicate), within-cell eval×corpus pairing, contaminated =
    EXISTS a cell-mate eval vector with cosine ≥ τ.  The unrounded
    ``>=`` is covered by the same within-cell threshold-margin pin as
    semantic_dedup (cross pairs are a subset of all within-cell
    pairs)."""
    prefix = _ccell_with(sf_dir, dim, target_cell_size, sample, iters,
                         seed)
    return f"""{prefix},
    ev AS (
      SELECT cell, embedding AS ev_emb FROM ccell
      WHERE vec_id % {eval_mod} = 0
    ),
    corpus AS (
      SELECT vec_id, cell, embedding FROM ccell
      WHERE vec_id % {eval_mod} != 0
    ),
    hits AS (
      SELECT DISTINCT c.vec_id
      FROM corpus c JOIN ev e USING (cell)
      WHERE list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                   CAST(e.ev_emb AS DOUBLE[]))
            >= {min_cos}
    )
    SELECT c.vec_id, CAST(c.cell AS INTEGER) AS cell,
           (h.vec_id IS NOT NULL) AS contaminated
    FROM corpus c LEFT JOIN hits h ON c.vec_id = h.vec_id
    """
