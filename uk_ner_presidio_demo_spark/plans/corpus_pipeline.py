"""End-to-end staged TRAINING-CORPUS pipeline — the document-side twin of
the KG pipeline (plans/pipeline.py), composing the training-data operators
into the flow a real 100-TB data-prep run executes:

    scan documents
      -> profile          (token/char/lang/quality features, scan-local)
      -> clean            (quality AND lang AND near-dup AND repetition)
      -> [lm_filter]      (opt-in: bigram-LM corpus-typicality gate,
                           self-scored on the cleaned corpus — the
                           CCNet-family LM step between heuristic gates
                           and split/dedup; operators/lm.py)
      -> split            (deterministic hash train/eval split)
      -> decontaminate    (drop train docs leaking into the eval slice,
                           exact + MinHash-near levels)
      -> excise           (substring dedup APPLY: maximal duplicated
                           runs vs owner docs cut token-exactly — Lee et
                           al.; runs over the RAW text the chunker
                           fingerprints, before scrub rewrites it)
      -> scrub            (PII removal — detect + [TYPE] splice, the
                           reference's analyzer over the corpus; runs
                           BEFORE packing because replacements change
                           token counts)
      -> pack             (greedy token-budget packs in xxhash64 buckets)
      -> pack_stats + metrics table

Same checkpoint contract and runner as the KG pipeline (StagedPipeline):
CORPUS_CHAIN runs as a stage DAG, its fingerprints derived from the root
(the documents file + both semantics versions: scrub runs detection).
Each stage writes parquet + a _MANIFEST.json with its input fingerprint,
per-file row counts from the written footers, the schema, and wall time;
re-running with unchanged inputs SKIPs every stage.  Resumability and
lineage are inherited, not re-implemented.

Scale notes per stage: profile/split are scan-local (no shuffle); clean's
legs are left-semi joins with only the dup clustering iterating (size-
gated CC); decontaminate broadcasts the eval slice (benchmark-sized by
construction) against the train side; pack shuffles once on the logical
bucket key.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.bpe import bpe_train
from ..operators.chunking import excise_duplicate_spans
from ..operators.contamination import decontaminate
from ..operators.dedup import clean_corpus
from ..operators.lm import lm_score_docs
from ..operators.packing import pack_documents, pack_stats
from ..operators.sampling import train_eval_split
from ..operators.scrub import scrub_documents
from ..operators.textstats import lang_quality, text_profile
from ..sources.tables import DOCUMENTS_SCHEMA
from .pipeline import StagedPipeline, _fingerprint_path, chain_fingerprints

PACK_BUDGET = 256
PACK_BUCKETS = 32
EVAL_FRACTION = 0.05
LANG = "lat"          # the driver corpus is Latin word-salad


class CorpusSource(NamedTuple):
    """What the corpus chain reads besides its own stage frames."""
    docs: DataFrame
    bpe_pack: bool       # pack budgets on trained-BPE counts
    shingle_tail: bool   # excise adds the winnowed k-gram candidate pass


def _kept(docs: DataFrame, ids: DataFrame, split: str | None = None):
    """The documents whose doc_id ``ids`` holds (in ``split`` if given)."""
    ids = ids if split is None else ids.filter(F.col("split") == split)
    return docs.join(ids.select("doc_id"), "doc_id", "left_semi")


# The corpus chain in KG_CHAIN's shape (plans/pipeline.py), ``build`` taking
# a CorpusSource; ``lineage`` is "shingle_tail" or "bpe_pack".  lm_filter
# runs only when corpus_chain keeps it.
CORPUS_CHAIN = {
    "profile": ({}, None, lambda s, f: text_profile(s.docs).join(
        lang_quality(s.docs).drop("n_tokens"), "doc_id")),
    "clean": ({}, None, lambda s, f: clean_corpus(
        s.docs, lang=LANG, with_repetition=True)),
    # self-scored on the CLEANED corpus, so the model reflects what could
    # actually ship; keep = avg bigram log-prob >= LM_KEEP_MIN_AVG_FP, in
    # integer micro-nat arithmetic, deterministic at any parallelism
    "lm_filter": ({"clean": ("doc_id",)}, None, lambda s, f: lm_score_docs(
        _kept(s.docs, f["clean"])).filter(F.col("keep"))
        .select("doc_id", "n_bigrams", "lp_sum_fp")),
    "split": ({"clean": ("doc_id",), "lm_filter": ("doc_id",)}, None,
              lambda s, f: train_eval_split(_kept(
                  s.docs, f.get("lm_filter", f["clean"])), EVAL_FRACTION)
              .select("doc_id", "split")),
    "decontaminate": ({"split": None}, None, lambda s, f: decontaminate(
        _kept(s.docs, f["split"], "train"),
        _kept(s.docs, f["split"], "eval"))),
    # substring dedup APPLY: duplicated boilerplate spans are cut
    # token-exactly before scrub/pack — both excision and scrubbing
    # change token counts, so both precede packing; excision runs first
    # so span boundaries come from the raw text the chunk fingerprints
    # were computed over, not scrub-rewritten text.  shingle_tail is the
    # recall-1.0 mode: the winnowed k-gram candidate pass reaches runs
    # below the CDC resync horizon, which chunk-hash blocking can never
    # pair (SCALE.md §7e), at the cost of candidate volume (§7e/§7h).
    "excise": ({"decontaminate": None}, "shingle_tail",
               lambda s, f: excise_duplicate_spans(
                   f["decontaminate"], shingle_tail=s.shingle_tail).select(
                   "doc_id", "n_excised_tokens",
                   F.col("clean_text").alias("text"))),
    # PII scrub BEFORE packing: replacements change token counts, so
    # packs must be built over the text that actually ships
    "scrub": ({"excise": None}, None, lambda s, f: scrub_documents(
        f["excise"]).select("doc_id", "n_pii",
                            F.col("scrubbed_text").alias("text"))),
    # bpe_pack budgets packs with the TRAINED tokenizer: merges are induced
    # from the scrubbed corpus (the text that ships), so pack budgets match
    # what the training run actually consumes.  Trained inside the stage so
    # a SKIPped resume never pays the training scan; the merge list is a
    # pure function of the scrubbed text, which the fingerprint covers.
    "pack": ({"scrub": ("doc_id", "text")}, "bpe_pack",
             lambda s, f: pack_documents(
                 f["scrub"].select("doc_id", "text"),
                 budget_tokens=PACK_BUDGET, n_buckets=PACK_BUCKETS,
                 merges=bpe_train(f["scrub"].select("doc_id", "text"))
                 if s.bpe_pack else None)),
    "pack_stats": ({"pack": None}, None,
                   lambda s, f: pack_stats(f["pack"], PACK_BUDGET)),
}


def corpus_chain(lm_filter: bool) -> dict:
    """CORPUS_CHAIN, without the lm_filter stage unless ``lm_filter``."""
    drop = set() if lm_filter else {"lm_filter"}
    return {stage: ({i: c for i, c in inputs.items() if i not in drop},
                    lineage, build)
            for stage, (inputs, lineage, build) in CORPUS_CHAIN.items()
            if stage not in drop}


@dataclass
class CorpusPipeline(StagedPipeline):
    # Each flag is a corpus-profile decision, off by default so the
    # whitespace-count goldens stay stable.
    bpe_pack: bool = False      # pack budgets on trained-BPE counts
    lm_filter: bool = False     # bigram-LM gate between clean and split
    shingle_tail: bool = False  # recall-1.0 excision (k-gram candidates)

    def run(self) -> dict[str, DataFrame]:
        """Run or resume every stage; {stage: frame} in chain order."""
        from ..oracle import docs_golden, reference_oracle

        docs = Path(self.sf_dir) / "documents.parquet"
        root = (f"{_fingerprint_path(docs)}"
                f"|docs=v{docs_golden.DOCS_GOLDEN_VERSION}"
                f"|semantics=v{reference_oracle.GOLDEN_VERSION}")
        chain = corpus_chain(self.lm_filter)
        fps = chain_fingerprints(chain, root, {
            "shingle_tail": f"shingle_tail={self.shingle_tail}",
            "bpe_pack": f"bpe_pack={self.bpe_pack}"})
        # read with its schema: inference is a Spark job per run
        src = CorpusSource(
            self.spark.read.schema(DOCUMENTS_SCHEMA).parquet(str(docs)),
            self.bpe_pack, self.shingle_tail)
        out = self._run_graph(self._chain_steps(chain, src, fps))
        self._write_metrics()
        return out
