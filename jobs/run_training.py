"""spark-submit entry: fit the langid + perplexity models on a corpus.

Closes the training loop at cluster scale: the shipped weights in
``assets/`` are driver-trained from the seed corpus, but re-fitting on a
real 10^12-file lake needs the distributed trainers
(``models/train_distributed.py`` — partial-histogram mapInPandas, only
the model ever reaches the driver).  This job runs both and writes:

    <out>/langid_counts/    (lang, bucket, cnt) parquet — audit trail
    <out>/ppl_counts/       same, word-bigram statistic
    <out>/langid_logp.parquet   (bucket, lang_idx, lang, logp)
    <out>/ppl_logp.parquet      same layout

The logp parquets use the exact layout ``tools/export_weights.py``
commits to ``assets/`` — a retrained model slots into the scoring SQL
oracles and any external re-scorer unchanged.

    spark-submit --py-files /tmp/pipeline.zip jobs/run_training.py \
        --source /path/to/documents_parquet --out /path/to/model_dir

Resume contract matches jobs/run_curation.py: stages whose _SUCCESS (or
output file) exists are reused on re-submit, and a re-submit from a
changed source or with other arguments raises.
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
    ap.add_argument("--lang-col", default="lang")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--app-name", default="train-models")
    args = ap.parse_args()

    import numpy as np

    from language_identification_spark.checkpoint import check_job_record

    from language_identification_spark.models import langid as langid_mod
    from language_identification_spark.models import perplexity as ppl_mod
    from language_identification_spark.models.train_distributed import (
        _logp_from_counts,
        _present_langs,
        bigram_bucket_counts,
        trigram_bucket_counts,
    )
    from tools.export_weights import _write_matrix

    check_job_record(args)
    owned = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.appName(args.app_name).getOrCreate()
    docs = spark.read.parquet(args.source).select(
        args.lang_col, args.text_col
    )
    present = _present_langs(docs, args.lang_col)
    report: dict[str, object] = {"source": args.source}

    specs = [
        ("langid", trigram_bucket_counts, langid_mod),
        ("ppl", bigram_bucket_counts, ppl_mod),
    ]
    for name, counts_fn, mod in specs:
        counts_path = os.path.join(args.out, f"{name}_counts")
        if not _done(counts_path):
            counts_fn(docs, args.lang_col, args.text_col).write.mode(
                "overwrite"
            ).parquet(counts_path)
        report[f"{name}_counts"] = counts_path
        logp_path = os.path.join(args.out, f"{name}_logp.parquet")
        if not os.path.exists(logp_path):
            # model assembly is driver-side on the model-sized count
            # table (<= n_buckets x n_langs rows), never on documents
            counts = spark.read.parquet(counts_path).toPandas()
            langs, logp = _logp_from_counts(
                counts, mod.N_BUCKETS, mod.ALPHA, present
            )
            _write_matrix(tuple(langs), np.asarray(logp), logp_path)
        report[f"{name}_logp"] = logp_path

    print(json.dumps(report))
    if owned:
        spark.stop()


if __name__ == "__main__":
    main()
