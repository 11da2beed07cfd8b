"""Lazy per-process model singleton — the "broadcast" analog.

The reference ships its models inside containers started once per host
(``/root/reference/scripts/run-containers.ps1:35-45``); here the models are
deterministic functions of the seed corpus, so instead of shipping weight
files we rebuild them once per Python worker process on first use
(~0.2 s) and keep them for the life of that process.  Nothing is cached
on disk, so no stale file can ever be served.  Every Spark executor worker
and the single-process labeler therefore see byte-identical weights.
"""

from __future__ import annotations

import functools

from ..datagen.corpus import training_corpus
from . import langid, perplexity

# bump when anything upstream of the weights changes (hashing spec, corpus,
# smoothing) — names the committed weight assets (tools/export_weights.py)
_WEIGHTS_VERSION = "v3"  # v3: fixed-width zero-padded word hashing


@functools.cache
def get_models() -> tuple["langid.LangIdModel", "perplexity.BigramLM"]:
    corpus = training_corpus()
    return langid.train(corpus), perplexity.train(corpus)
