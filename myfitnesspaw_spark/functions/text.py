"""Text-analysis column helpers (JVM-side, no Python UDFs).

Everything here returns ``Column`` expressions built from Spark SQL
built-ins / higher-order functions, so the hot path stays inside
whole-stage codegen at 100 TB.  Cross-engine determinism rules (the
driver hash-compares against DuckDB):

- hashes are ``md5`` hex strings (identical in both engines) or
  integer polynomial folds mod a prime (exact integer arithmetic);
- scores that feed the correctness gate are integers or a SINGLE
  float op over exact integers (one division / one fixed expression) —
  never a float SUM over an unordered group, whose order differs
  between engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Fowler–style polynomial base / modulus for the rolling fingerprint.
FP_BASE = 31
FP_MOD = 1_000_000_007


def normalize_text(col: Column) -> Column:
    """Lowercase, collapse whitespace runs, trim — the canonical form
    every dedup / fingerprint operator hashes."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of normalized text (array<string>)."""
    return F.split(normalize_text(col), " ")


def bpe_ish_token_count(col: Column) -> Column:
    """Count of BPE-ish regex tokens: letter runs, digit runs, or any
    single non-letter/non-space symbol.  A cheap stand-in for a real
    subword tokenizer with the same plumbing (regex count, JVM-side)."""
    return F.regexp_count(normalize_text(col), F.lit(r"[a-z]+|[0-9]+|[^a-z0-9 ]"))


def char_bigrams(col: Column) -> Column:
    """All overlapping character bigrams of normalized text
    (array<string>, positional, with repeats — profile counting wants
    the multiset)."""
    norm = normalize_text(col)
    return F.transform(
        F.sequence(F.lit(1), F.length(norm) - 1),
        lambda i: F.substring(norm, i, F.lit(2)),
    )


def split_chars(col: Column) -> Column:
    """Normalized text split to a char array — materialize this in its
    own projection before feeding ``char_bigram_codes``."""
    return F.split(normalize_text(col), "")


def char_bigram_codes(chars_col: Column) -> Column:
    """Character bigrams as injective integer codes
    (``cp₁·65536 + cp₂``, exact for BMP codepoints).

    Same multiset as ``char_bigrams`` but keyed by a long instead of a
    2-char string: the downstream groupBy/join shuffles move 8-byte
    ints with cheap hashing — the representation a 100 TB profile
    build wants.  Only the key changes; any count/score computed on
    codes equals the one computed on strings.

    PERF: ``chars_col`` MUST be a materialized ``split_chars`` column
    attribute, not an inline expression — expressions captured by the
    transform lambda re-evaluate per element (measured 50× slower).
    """
    return F.transform(
        F.sequence(F.lit(1), F.size(chars_col) - 1),
        lambda i: F.ascii(F.element_at(chars_col, i)).cast("long") * 65536
        + F.ascii(F.element_at(chars_col, i + 1)),
    )


def word_shingles(tok_col: Column, n: int = 3) -> Column:
    """Overlapping word n-gram shingles (array<string>); empty array
    when the doc has fewer than ``n`` tokens.

    Built from ``zip_with`` + ``slice`` — array-in/array-out ops whose
    operands evaluate ONCE per row — instead of a transform lambda
    indexing with ``element_at``: expressions captured inside a
    higher-order lambda re-evaluate on EVERY element (and Catalyst's
    CollapseProject re-inlines "materialized" token columns right back
    into the lambda), which made shingling O(tokens²) per doc —
    measured 15-50× slower on real documents.

    Shape: iteratively zip the running prefix with the k-shifted
    array; ``concat_ws`` ignores the nulls ``zip_with`` pads at the
    tail, and the final slice trims those positions off.
    """
    size = F.size(tok_col)
    acc = tok_col
    for k in range(1, n):
        acc = F.zip_with(
            acc, F.slice(tok_col, k + 1, size - k), lambda x, y: F.concat_ws(" ", x, y)
        )
    return F.when(size >= n, F.slice(acc, 1, size - n + 1)).otherwise(
        F.array().cast("array<string>")
    )


def rolling_fingerprint(col: Column) -> Column:
    """Polynomial rolling hash of normalized text, mod ``FP_MOD``.

    Reference analogue: the byte-level change detection that
    jsonpickle-blob comparison gives the reference's CDC diff
    (`/root/reference/myfitnesspaw/tasks.py:383-405`) — here as an
    explicit integer fingerprint.  Exact integer arithmetic → identical
    in any engine; the fold stays under 2^63 (acc < 1e9+7, ×31 + 127).
    """
    norm = normalize_text(col)
    return F.aggregate(
        F.split(norm, ""),
        F.lit(0).cast("long"),
        lambda acc, c: (acc * FP_BASE + F.ascii(c)) % FP_MOD,
    )


def minhash_hashes(shingle_col: Column) -> Column:
    """One md5 hex digest per shingle (array<string>).

    Compute ONCE per doc and materialize through a Generate barrier
    (``explode(array(...))``) before handing the result to
    ``minhash_signature`` — as an inline expression, CollapseProject
    would re-inline this transform into every per-seed pass, re-hashing
    the whole shingle set ``num_hashes`` times."""
    return F.transform(shingle_col, lambda s: F.md5(s))


def minhash_signature(hash_arr: str, num_hashes: int) -> list[Column]:
    """MinHash signature from the materialized per-shingle md5 array
    column named ``hash_arr``: seed *i* is the lexicographic min over
    the doc's digests under a cyclic rotation by ``2i`` hex chars.

    One digest, many hash functions (Broder's trick): the leading two
    hex chars of rotation *i* are digest byte *i* — independent random
    bytes — so comparisons under different seeds are decided by
    independent bytes ~255/256 of the time, a sound LSH family at 16×
    fewer md5 evaluations.  Rotation + min is a handful of substring
    ops per element, exactly expressible in DuckDB
    (``substr(h, 2i+1) || substr(h, 1, 2i)``) for the oracle.

    Per-seed ``array_min(transform(...))`` passes beat a single
    N-wide ``aggregate``+``zip_with`` fold 3.5× at sf0.1 (1.18s vs
    4.19s): higher-order lambdas are interpreted, and the fold
    allocates an N-array accumulator per element while the per-seed
    pass does one cheap rotation compare.

    Each column is parsed from SQL text (one py4j call) rather than
    assembled from a dozen-plus Column calls: building the lazy
    ``minhash_signatures`` frame fell from ~200 to ~100 ms (4 cores)."""

    def rot(off: int) -> str:
        if off == 0:
            return "x"
        return f"concat(substring(x, {off + 1}, 32), substring(x, 1, {off}))"

    return [
        F.expr(f"array_min(transform(`{hash_arr}`, x -> {rot(2 * i)})) AS h{i}")
        for i in range(num_hashes)
    ]


def simhash_bit(token_col: Column, bit: int) -> Column:
    """±1 contribution of a token to SimHash bit *i*: the high bit of
    the *i*-th nibble of ``md5(token)`` (hex char in '89abcdef')."""
    return simhash_bit_from_hash(F.md5(token_col), bit)


def simhash_bit_from_hash(hash_col: Column, bit: int) -> Column:
    """Same as ``simhash_bit`` over a pre-computed md5 hex column —
    use when one hash feeds all 32 bit extractions (computing md5
    inside each bit expression runs it 32× per row)."""
    nibble = F.substring(hash_col, bit + 1, 1)
    is_high = nibble.isin("8", "9", "a", "b", "c", "d", "e", "f")
    return F.when(is_high, F.lit(1)).otherwise(F.lit(-1))
