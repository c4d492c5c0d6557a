"""Shared DuckDB oracle-SQL fragments.

The tokenizer and shingle expressions must be byte-identical wherever
an oracle mirrors the Spark-side ``\\s+`` tokenization (llmops batch
queries AND the streaming oracles), so they live here rather than as
private helpers of one workload module — importing llmops internals
from streaming_queries coupled the modules and risked an import
cycle.

Which inputs the tokenizer mirrors exactly: :func:`duck_tokens` equals
``operators.text.tokens`` on NULL, empty and blank strings, on every
ASCII whitespace character, and on any text that lowercases without
Java's special casing. Java's ``\\s`` includes U+000B and RE2's does
not, hence the ``[\\s\\v]`` class (:data:`DUCK_WHITESPACE`, and in
:data:`DUCK_TOKEN_PATTERN` and :data:`DUCK_ALNUM_SPACE`); neither
engine splits on Unicode spaces such as U+00A0. The engines still
lowercase two cases differently: Spark's ``lower`` applies
Java's special casing (``İ`` → ``i̇``, a word-final ``Σ`` → ``ς``),
DuckDB maps each code point on its own (``i``, ``σ``). No fixture
holds such text; ``tests/test_text.py`` checks the parity and names
those two inputs as the known exceptions.
"""

from __future__ import annotations

from arc_jupyter_spark.digest import duck_band_digests, duck_md5_prefix_hash

#: RE2 class for Java's ``\\s+`` (which includes U+000B).
DUCK_WHITESPACE = "[\\s\\v]+"
#: RE2 twin of ``operators.text.TOKEN_PATTERN`` (``text.token_count``).
DUCK_TOKEN_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s\\v]"
#: RE2 twin of the class ``text.punct_ratio`` deletes before counting.
DUCK_ALNUM_SPACE = "[A-Za-z0-9\\s\\v]"


def duck_tokens(expr: str) -> str:
    """DuckDB expression: lowercased whitespace tokens of ``expr`` with
    empties removed — the twin of ``operators.text.tokens``. Every
    oracle tokenizes through this."""
    return (
        f"list_filter(regexp_split_to_array(lower({expr}), "
        f"'{DUCK_WHITESPACE}'), x -> x <> '')"
    )


#: ``duck_tokens`` over the ``text`` column.
DUCK_TOKS = duck_tokens("text")

#: Canonical CDC chunker parameters, shared by the d21 batch query,
#: the st15 streaming query, p11's scrub pipeline, and every oracle
#: that replays the cut rule. Both the Spark ``cdc_chunks(...)`` call
#: and ``duck_cdc_dist_cte(...)`` must receive THESE values explicitly
#: so a change to either side's defaults can never desynchronize a
#: query from its oracle (ADVICE r7).
CDC_WINDOW = 8
CDC_MASK = 64


def duck_shingles(n: int) -> str:
    """DuckDB expression for word n-gram shingles over a ``toks``
    column (1-based inclusive list slicing); short docs collapse to a
    single whole-document shingle, mirroring the Spark side."""
    return (
        f"CASE WHEN len(toks) >= {n} THEN "
        f"list_transform(generate_series(1, len(toks) - {n - 1}), "
        f"j -> array_to_string(toks[j:j + {n - 1}], ' ')) "
        f"ELSE [array_to_string(toks, ' ')] END"
    )


def duck_count_min_ctes(key: str, depth: int, width: int) -> str:
    """CTEs ``hashed → cms → est(<key>, exact_n, estimate)`` over a
    ``tc(<key>, exact_n)`` relation: the DuckDB twin of
    ``sketch.count_min_build`` + ``count_min_estimate``."""
    bucket = duck_md5_prefix_hash(f"d::VARCHAR || '|' || {key}", 15)
    return f"""hashed AS (
  SELECT {key}, exact_n, d,
         {bucket}
           % {width} AS bucket
  FROM tc, unnest(generate_series(0, {depth - 1})) AS t(d)
),
cms AS (SELECT d, bucket, SUM(exact_n) AS cnt FROM hashed GROUP BY d, bucket),
est AS (
  SELECT h.{key}, h.exact_n, MIN(c.cnt) AS estimate
  FROM hashed h JOIN cms c ON h.d = c.d AND h.bucket = c.bucket
  GROUP BY h.{key}, h.exact_n
)"""


def duck_cdc_dist_cte(window: int = 8, mask: int = 64) -> str:
    """CTE chain mirroring ``operators/dedup.cdc_chunks`` + the
    per-(source, digest) rollup: ``d → p → cutpos → cuts → b → chx →
    ch → dist`` where ``ch`` has (source, doc_id, chunk_idx, chunk)
    and ``dist`` has (source, dg, n_occ, ln). Shared by the d21 batch
    oracle, the st15 streaming oracle, and p11's keep-first scrub so
    the cut-rule arithmetic lives in exactly one place."""
    hash_sql = " + ".join(
        f"CAST(ord(d.text[p.i - {j}:p.i - {j}]) AS BIGINT) * {31 ** j}"
        for j in range(window)
    )
    return f"""d AS (
  SELECT source, doc_id, COALESCE(text, '') AS text,
         length(COALESCE(text, '')) AS n
  FROM documents
),
p AS (
  SELECT doc_id, unnest(generate_series({window}, n - 1)) AS i
  FROM d WHERE n >= {window + 1}
),
cutpos AS (
  SELECT p.doc_id, p.i
  FROM p JOIN d ON p.doc_id = d.doc_id
  WHERE ({hash_sql}) % {mask} = 0
),
cuts AS (SELECT doc_id, list_sort(list(i)) AS cs FROM cutpos GROUP BY doc_id),
b AS (
  SELECT d.source, d.doc_id, d.text,
         list_prepend(0, list_append(COALESCE(c.cs, []), d.n)) AS bs
  FROM d LEFT JOIN cuts c ON d.doc_id = c.doc_id
),
chx AS (
  SELECT source, doc_id, text, bs,
         unnest(generate_series(1, len(bs) - 1)) AS k
  FROM b
),
ch AS (
  SELECT source, doc_id, k - 1 AS chunk_idx,
         text[bs[k] + 1:bs[k + 1]] AS chunk
  FROM chx
),
dist AS (
  SELECT source, md5(chunk) AS dg, COUNT(*) AS n_occ,
         MAX(length(chunk)) AS ln
  FROM ch GROUP BY source, dg
)"""


#: Canonical MinHash parameters shared by the batch near-dedup family
#: (d02/d06/d07/d12, p12) and the streaming refresh screen (st16) —
#: in this module for the same reason as DUCK_TOKS: both llmops and
#: streaming_queries mirror them in oracles, and importing llmops
#: internals from streaming_queries would couple the modules.
MINHASH_NUM_HASHES = 16
MINHASH_BANDS = 4
MINHASH_ROWS_PER_BAND = MINHASH_NUM_HASHES // MINHASH_BANDS
MINHASH_SHINGLE_LEN = 3


def duck_minhash_signatures() -> str:
    """Select list ``<min-hash> AS s0, ...`` over a ``shingles`` list
    column: the DuckDB twin of ``dedup.minhash_signature_table``."""
    from arc_jupyter_spark.operators import dedup

    base = duck_md5_prefix_hash("s")
    return ", ".join(
        f"list_min(list_transform(shingles, s -> ({a} * {base} + {b})"
        f" % {dedup._MERSENNE31})) AS s{i}"
        for i, (a, b) in enumerate(dedup.minhash_coefficients(MINHASH_NUM_HASHES))
    )


def duck_banded_cte(src: str = "documents") -> str:
    """DuckDB CTE chain ending in ``banded(doc_id, band)`` — the exact
    truncated-md5 minhash band BIGINTs the Spark operators compute.
    ``src`` is the relation banded over (any CTE with doc_id + text;
    default the documents table)."""
    bands = duck_band_digests(MINHASH_BANDS, MINHASH_ROWS_PER_BAND)
    band_list = ", ".join(f"band{b}" for b in range(MINHASH_BANDS))
    return f"""toks AS (
  SELECT doc_id, {DUCK_TOKS} AS toks FROM {src}
),
sh AS (
  SELECT doc_id, {duck_shingles(MINHASH_SHINGLE_LEN)} AS shingles FROM toks
),
sigs AS (
  SELECT doc_id, {duck_minhash_signatures()} FROM sh
),
banded AS (
  SELECT doc_id, unnest([{band_list}]) AS band FROM ( SELECT doc_id, {bands} FROM sigs )
)"""
