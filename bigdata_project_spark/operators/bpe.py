"""BPE merge training — the tokenizer-training loop over a corpus.

Published algorithm (Sennrich et al. 2016, "Neural Machine Translation of
Rare Words with Subword Units"): count words, represent each as a symbol
sequence, repeatedly merge the globally most frequent adjacent symbol
pair. The scale split every production trainer (SentencePiece, HF
tokenizers) uses:

- **word counting is the corpus-sized part** → distributed: one explode +
  combiner-friendly hash aggregate (the same plan as text_vocab_topk);
- **the merge loop runs on the counted vocabulary**, which is Heaps'-law
  small (≲10⁶ rows even at 100 TB of text) → driver-side, exact, and
  deterministic (ties broken lexicographically).

Oracle strategy: the N-round iterative fixpoint has no direct SQL twin,
but the *corpus-sized stage* (tokenize + count) does. ``oracle_sql`` lets
DuckDB produce the word counts with its own tokenizer
(string_split_regex, the twin of :func:`tokens`), feeds them through the
merge loop — which is bounded, deterministic, and pinned by a
hand-computed example in tests/test_bpe.py — and emits the resulting
merge table as a VALUES literal. A count divergence between the engines'
tokenizers therefore shows up as a driver hash mismatch.
"""

from __future__ import annotations

import logging

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_project_spark.functions.text import tokens
from bigdata_project_spark.sources.readers import load_table

log = logging.getLogger(__name__)

N_MERGES = 10
END_OF_WORD = "</w>"
# Hard bound on the driver-side vocab collect. Heaps' law keeps a natural-
# language vocab ~1e6 even at 100 TB, but an adversarial corpus (random
# strings) makes vocab ≈ corpus — so prune to the top VOCAB_CAP words by
# count (ties broken by word) BEFORE collecting. Dropped tail words have
# the smallest counts; at the fixture scales the cap is never hit, and the
# oracle applies the identical prune so both engines see the same vocab.
VOCAB_CAP = 1_000_000


def count_words(docs: DataFrame) -> DataFrame:
    """Distributed word counting — the only corpus-sized stage."""
    return (
        docs.select(F.explode(tokens(F.col("text"))).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_merges(
    word_counts: list[tuple[str, int]], n_merges: int = N_MERGES
) -> list[tuple[int, str, str, int]]:
    """Driver-side BPE loop on the counted vocab: returns
    (rank, left_symbol, right_symbol, pair_count) per merge."""
    vocab = {
        tuple(list(w) + [END_OF_WORD]): c for w, c in word_counts
    }
    merges: list[tuple[int, str, str, int]] = []
    for rank in range(n_merges):
        pairs: dict[tuple[str, str], int] = {}
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] = pairs.get((a, b), 0) + c
        if not pairs:
            break
        cnt = max(pairs.values())
        left, right = min(p for p, c in pairs.items() if c == cnt)
        merges.append((rank, left, right, cnt))
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            key = _apply_one_merge(syms, left, right)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


def _apply_one_merge(
    syms: tuple[str, ...], left: str, right: str
) -> tuple[str, ...]:
    """Greedy left-to-right application of ONE merge: a matched pair
    consumes both symbols before the scan continues (so a run of k
    identical symbols under a self-pair merge becomes floor(k/2) merged
    symbols plus a trailing remainder) — reference BPE semantics
    (Sennrich et al. 2016), shared by training and encode."""
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == left and syms[i + 1] == right:
            out.append(left + right)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return tuple(out)


def encode_len(word: str, merges: "list[tuple[int, str, str, int]]") -> int:
    """Exact reference-BPE symbol count of one word under the ranked
    merge list."""
    syms: tuple[str, ...] = tuple(list(word) + [END_OF_WORD])
    for _rank, left, right, _cnt in merges:
        syms = _apply_one_merge(syms, left, right)
    return len(syms)


def _learned_merges(docs: DataFrame):
    """``(counted, merges)``: the VOCAB_CAP most frequent words of
    ``docs`` with their counts, sorted by word (a deterministic input
    order for the driver loop), and the merges trained on them."""
    # TakeOrderedAndProject bounds the driver transfer at VOCAB_CAP rows
    pruned = (
        count_words(docs)
        .orderBy(F.col("cnt").desc(), F.col("w").asc())
        .limit(VOCAB_CAP)
    )
    counted = sorted((r["w"], r["cnt"]) for r in pruned.collect())
    return counted, train_merges(counted)


def query_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-N_MERGES BPE merge table learned from the documents corpus."""
    _, merges = _learned_merges(load_table(spark, sf_dir, "documents"))
    return spark.createDataFrame(
        merges, "merge_rank int, left string, right string, pair_count bigint"
    )


# DuckDB twin of tokens()+count_words() — shared with text_analysis oracles.
_WORD_COUNT_SQL = """
SELECT w, COUNT(*) AS cnt FROM (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
    FROM read_parquet('{path}')
)
WHERE w <> ''
GROUP BY w
"""


def _duckdb_merges(sf_dir: str):
    """``(con, merges)``: a DuckDB connection, and the merges trained on
    its count of the VOCAB_CAP most frequent words of the fixture at
    ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    counted = con.execute(
        _WORD_COUNT_SQL.format(path=f"{sf_dir}/documents.parquet")
        + f" ORDER BY cnt DESC, w LIMIT {VOCAB_CAP}"
    ).fetchall()
    return con, train_merges(sorted((w, int(c)) for w, c in counted))


def _sql_str(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("'", "''") + "'"


def oracle_bpe_merges_sql(sf_dir: str) -> str | None:
    """Build the oracle for the fixture at ``sf_dir``: DuckDB counts its
    words, the same pinned merge loop runs on those counts, and the result
    is emitted as a VALUES literal. The merge loop itself is guarded by
    the hand-computed pin in tests/test_bpe.py (a train_merges bug would
    slip past a VALUES oracle built from train_merges — the pin test is
    the independent check). Returns None (→ the driver downgrades to a
    rows-only check, logged loudly) if the fixture is unreadable."""
    try:
        _, merges = _duckdb_merges(sf_dir)
        if not merges:
            log.warning(
                "bpe oracle builder: empty merge table for %s — "
                "falling back to rows-only correctness check",
                sf_dir,
            )
            return None
        rows = ",\n       ".join(
            f"({rank}, {_sql_str(left)}, {_sql_str(right)}, {cnt})"
            for rank, left, right, cnt in merges
        )
        return (
            'SELECT CAST(merge_rank AS INTEGER) AS merge_rank, "left", "right",\n'
            "       CAST(pair_count AS BIGINT) AS pair_count\n"
            f'FROM (VALUES {rows}) t(merge_rank, "left", "right", pair_count)'
        )
    except Exception as exc:  # noqa: BLE001 — missing fixture → rows-only
        log.warning(
            "bpe oracle builder: %s: %s — falling back to rows-only "
            "correctness check for %s",
            type(exc).__name__,
            exc,
            sf_dir,
        )
        return None


# ------------------------------------------------------------- encode --
#
# Encode = dictionary join. A literal-replace expression chain (the
# round-5 design) is NOT equivalent to reference BPE for self-pair
# merges (left == right): on a run of ≥5 identical symbols the
# non-overlapping replace scan pairs the wrong occurrences ('aaaaaa'
# under merge (a,a) → 5 symbols instead of reference-greedy 4), and no
# replace-until-fixpoint variant converges to the greedy result either
# (ADVICE r5). The exact semantics need the stateful left-to-right scan
# in _apply_one_merge — so the corpus-sized stage becomes a broadcast
# dictionary join instead: the capped vocab (the SAME bounded driver
# collect training already does) is encoded exactly on the driver and
# broadcast back as word→n_sym; corpus words stream through a broadcast
# hash join, all JVM-side. Words beyond VOCAB_CAP (never at fixture
# scale; the rare tail of an adversarial 100 TB corpus) take an
# Arrow-batched pandas UDF computing the IDENTICAL function, kept on a
# separate filtered branch so the Python path evaluates zero batches
# when the dictionary covers the corpus.


def query_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus-learned merge table back to the corpus: per-doc
    whitespace-word count vs BPE-token count — the learn→tokenize
    round trip (what SentencePiece's encode step does after training).
    Exact reference-greedy BPE for every word, including self-pair
    merges over runs (see the section comment above)."""
    from pyspark.sql.functions import pandas_udf

    def _bpe_len_tail(ws: pd.Series) -> pd.Series:
        return ws.map(lambda w: encode_len(w, merges))

    docs = load_table(spark, sf_dir, "documents")
    counted, merges = _learned_merges(docs)

    vocab_df = spark.createDataFrame(
        [(w, encode_len(w, merges)) for w, _ in counted],
        "w string, n_sym_dict bigint",
    )

    bpe_len_tail = pandas_udf(_bpe_len_tail, "long")

    words = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("w")
    ).filter(F.col("w") != "")
    # the matched/tail branches below each consume `joined`; without
    # the checkpoint the union plans the corpus scan + tokenize +
    # broadcast join TWICE (same finding as dedup_simhash_pairs) — at
    # corpus scale, materializing the narrow (w, doc_id, n_sym_dict)
    # rows once beats a second tokenize pass
    joined = words.join(F.broadcast(vocab_df), "w", "left").localCheckpoint(
        eager=False
    )
    matched = joined.filter(F.col("n_sym_dict").isNotNull()).select(
        "doc_id", F.col("n_sym_dict").alias("n_sym")
    )
    tail = joined.filter(F.col("n_sym_dict").isNull()).select(
        "doc_id", bpe_len_tail(F.col("w")).alias("n_sym")
    )
    per_word = matched.unionByName(tail)
    return per_word.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_words"),
        F.sum("n_sym").cast("long").alias("n_bpe_tokens"),
    )


def oracle_bpe_encode_sql(sf_dir: str) -> str | None:
    """Same builder strategy as :func:`oracle_bpe_merges_sql`: DuckDB
    counts the words, the pinned Python loop learns the merges and
    encodes every distinct fixture word exactly, and the word→n_sym
    dictionary is emitted as a VALUES join so DuckDB re-tokenizes the
    corpus with its own string engine and sums through the same
    dictionary. (The dictionary covers ALL distinct fixture words —
    uncapped — mirroring the engine's dict + identical-function
    fallback, which is exact for every word.)"""
    try:
        con, merges = _duckdb_merges(sf_dir)
        all_words = [
            r[0]
            for r in con.execute(
                _WORD_COUNT_SQL.format(path=f"{sf_dir}/documents.parquet")
            ).fetchall()
        ]
        if not all_words:
            log.warning(
                "bpe encode oracle builder: empty corpus for %s — "
                "rows-only fallback",
                sf_dir,
            )
            return None
        rows = ",\n       ".join(
            f"({_sql_str(w)}, {encode_len(w, merges)})" for w in sorted(all_words)
        )
        return f"""
WITH words AS (
    SELECT doc_id, w FROM (
        SELECT doc_id,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
        FROM read_parquet('{sf_dir}/documents.parquet')
    ) WHERE w <> ''
),
dict(w, n_sym) AS (VALUES {rows})
SELECT doc_id, COUNT(*) AS n_words,
       CAST(SUM(n_sym) AS BIGINT) AS n_bpe_tokens
FROM words JOIN dict USING (w) GROUP BY doc_id
"""
    except Exception as exc:  # noqa: BLE001 — missing fixture → rows-only
        log.warning(
            "bpe encode oracle builder: %s: %s — rows-only fallback for %s",
            type(exc).__name__,
            exc,
            sf_dir,
        )
        return None


QUERIES = {
    "text_bpe_encode": (query_bpe_encode, oracle_bpe_encode_sql),
    "text_bpe_merges": (query_bpe_merges, oracle_bpe_merges_sql),
}
