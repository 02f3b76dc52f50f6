"""Corpus tokenization job: the operational surface of the tokenize
story t23/t24 tell — build a vocabulary over a curated corpus and
encode every document to ids, as the step a training pipeline runs
after `curate` and before sequence packing.

Two modes sharing one layout:

  word  — whole-token dictionary encoding (operators/text.py::
          build_vocab/vocab_encode): top-V tokens get dense ids,
          everything else -1 (UNK).
  bpe   — bounded deterministic byte-pair encoding (bpe_train/
          bpe_encode): merges train on the bounded word-type table,
          documents encode to subword ids with NO OOV (every symbol is
          a corpus character or a merge).

Output layout under ``output_dir``:

  vocab.json   the id table a downstream trainer ships: mode, params,
               and (word) token->id or (bpe) merge list + symbol->id
  encoded/     parquet of (id_col, n_tokens, n_oov|n_subwords,
               ids array<int>); its _SUCCESS file is the artifact's
               commit marker

The two files are one artifact — ids in ``encoded/`` are meaningless
under any other vocab — so a rebuild writes BOTH through
``_lake.replace_dir`` (shared with build_pq_layer): the committed
artifact keeps serving until the replacement is complete, a crash
mid-build leaves it untouched, and a crash between the two swap
renames is healed on the next run. An in-place write could crash
after rewriting vocab.json but before the encoded parquet committed,
leaving a NEW vocab beside OLD (or absent) ids.

Scale shape: both modes collect only constant-size tables to the
driver (top-V vocab / word-type table + the provably bounded symbol
vocab); the encode pass is a map + broadcast join + one doc-keyed
reassembly regardless of corpus size.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ._lake import replace_dir


def tokenize_corpus(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    mode: str = "word",
    vocab_size: int = 256,
    n_merges: int = 8,
    max_word_types: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> dict:
    """Returns counts only (the O5 XCom rule): n_docs, n_tokens, and
    per-mode vocabulary stats.

    SINGLE-WRITER per ``output_dir``, like every lake rewrite
    (``replace_dir`` uses fixed sibling names and sweeps them as crash
    residue). Serialize via the orchestrator (the DAGs already run one
    tokenize task per corpus); concurrency across DIFFERENT output_dirs
    is fine."""
    from ..operators.text import (
        bpe_encode,
        bpe_symbol_vocab,
        bpe_token_stream,
        bpe_train,
        bpe_type_table,
        build_vocab,
        vocab_encode,
    )
    from ..pinning import pin

    if mode not in ("word", "bpe"):
        raise ValueError(f"unknown tokenize mode {mode!r} — use 'word' or 'bpe'")

    docs = spark.read.parquet(input_path)

    def build(staging: str) -> dict:
        vocab_path = os.path.join(staging, "vocab.json")
        encoded_dir = os.path.join(staging, "encoded")
        if mode == "word":
            vocab = pin(build_vocab(docs, text_col, vocab_size=vocab_size))
            table = {r["token"]: r["token_id"] for r in vocab.collect()}
            with open(vocab_path, "w") as f:
                json.dump(
                    {"mode": "word", "vocab_size": vocab_size, "tokens": table},
                    f,
                    sort_keys=True,
                )
            enc = vocab_encode(docs, vocab, id_col, text_col)
            enc.write.mode("overwrite").parquet(encoded_dir)
            row = spark.read.parquet(encoded_dir).agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("n_oov").alias("n_oov"),
            ).collect()[0]
            stats = {
                "mode": "word",
                "n_docs": int(row["n_docs"]),
                "n_tokens": int(row["n_tokens"] or 0),
                "n_oov": int(row["n_oov"] or 0),
                "n_vocab": len(table),
            }
        else:
            merges = bpe_train(
                docs, text_col, n_merges=n_merges, max_word_types=max_word_types
            )
            # one pinned tokenize pass + type table shared by vocab + encode
            flat = bpe_token_stream(docs, id_col, text_col)
            types = bpe_type_table(flat, merges)
            vocab = pin(bpe_symbol_vocab(docs, merges, id_col, text_col, types=types))
            syms = {r["sym"]: r["sym_id"] for r in vocab.collect()}
            with open(vocab_path, "w") as f:
                json.dump(
                    {
                        "mode": "bpe",
                        "n_merges": n_merges,
                        "max_word_types": max_word_types,
                        "merges": [[l, r, c] for l, r, c in merges],
                        "symbols": syms,
                    },
                    f,
                    sort_keys=True,
                )
            enc = bpe_encode(
                docs, merges, id_col, text_col, vocab=vocab, types=types, flat=flat
            )
            enc.write.mode("overwrite").parquet(encoded_dir)
            row = spark.read.parquet(encoded_dir).agg(
                F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.sum("n_subwords").alias("n_subwords"),
            ).collect()[0]
            stats = {
                "mode": "bpe",
                "n_docs": int(row["n_docs"]),
                "n_tokens": int(row["n_tokens"] or 0),
                "n_subwords": int(row["n_subwords"] or 0),
                "n_merges": len(merges),
                "n_symbols": len(syms),
            }
        return stats

    return replace_dir(
        output_dir.rstrip("/"), build, os.path.join("encoded", "_SUCCESS")
    )
