"""spark-submit entry: train a BPE tokenizer and encode the corpus.

The tokenizer job at cluster scale: one corpus scan builds the
distinct-word table, the driver loop learns ``--merges`` BPE merges
(each iteration a partial-aggregated pair count; only the winning pair
reaches the driver), and the corpus is encoded ROW-LOCALLY with the
learned merge list (chained codegen replaces — no shuffle, no broadcast
vocabulary; see ``operators/bpe.py``).  Writes:

    <out>/merges/           (merge_rank, left, right, pair_count) parquet
    <out>/vocab/            (symbol, freq) top subword vocabulary
    <out>/encoded/          (id, n_subwords, bpe) parquet   [--encode]

The merges table is the portable artifact: any engine that replays the
ordered merge list reproduces the segmentation exactly (the DuckDB
oracle in ``__spark_entry__`` does precisely that).

    spark-submit --py-files /tmp/pipeline.zip jobs/run_tokenizer.py \
        --source /path/to/documents_parquet --out /path/to/tok_dir \
        --merges 64 --encode

Resume contract matches jobs/run_curation.py: stages whose _SUCCESS
exists are reused on re-submit — a killed run re-trains nothing it
already committed (the encode stage re-reads the committed merges, so
a resume encodes with the identical tokenizer).  A re-submit from a
changed source or with other arguments (``--encode`` aside) raises.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession


def _done(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--source", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--merges", type=int, default=64)
    ap.add_argument("--vocab-k", type=int, default=1000)
    ap.add_argument("--encode", action="store_true",
                    help="also write the encoded corpus")
    ap.add_argument("--no-lowercase", action="store_true")
    ap.add_argument("--app-name", default="tokenizer")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from language_identification_spark.checkpoint import check_job_record
    from language_identification_spark.operators.bpe import (
        apply_merges,
        bpe_encode,
        bpe_train,
        initial_symbols,
        word_freqs,
    )

    # --encode only adds the last stage: no reused stage depends on it
    check_job_record(args, "encode")
    owned = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName(args.app_name).getOrCreate()
    lowercase = not args.no_lowercase
    report: dict[str, object] = {"source": args.source, "merges": args.merges}

    merges_path = os.path.join(args.out, "merges")
    if not _done(merges_path):
        bpe_train(
            spark.read.parquet(args.source),
            text_col=args.text_col,
            n_merges=args.merges,
            lowercase=lowercase,
        ).coalesce(1).write.mode("overwrite").parquet(merges_path)
    report["merges_table"] = merges_path

    merge_rows = (
        spark.read.parquet(merges_path).orderBy("merge_rank").collect()
    )
    merge_list = [(r["left"], r["right"]) for r in merge_rows]
    report["merges_learned"] = len(merge_list)

    vocab_path = os.path.join(args.out, "vocab")
    if not _done(vocab_path):
        words = word_freqs(
            spark.read.parquet(args.source),
            text_col=args.text_col,
            lowercase=lowercase,
        ).select("word", "freq", initial_symbols(F.col("word")).alias("sym"))
        final = apply_merges(words, merge_list)
        vocab = (
            final.select("freq", F.explode(F.split("sym", " ")).alias("symbol"))
            .groupBy("symbol")
            .agg(F.sum("freq").alias("freq"))
            .orderBy(F.col("freq").desc(), F.col("symbol").asc())
            .limit(args.vocab_k)
        )
        vocab.coalesce(1).write.mode("overwrite").parquet(vocab_path)
    report["vocab"] = vocab_path

    if args.encode:
        enc_path = os.path.join(args.out, "encoded")
        if not _done(enc_path):
            bpe_encode(
                spark.read.parquet(args.source),
                merge_list,
                text_col=args.text_col,
                id_col=args.id_col,
                lowercase=lowercase,
            ).write.mode("overwrite").parquet(enc_path)
        report["encoded"] = enc_path

    print(json.dumps(report))
    if owned:
        spark.stop()


if __name__ == "__main__":
    main()
