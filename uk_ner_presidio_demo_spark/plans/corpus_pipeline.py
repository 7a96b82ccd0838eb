"""End-to-end staged TRAINING-CORPUS pipeline — the document-side twin of
the KG pipeline (plans/pipeline.py), composing the training-data operators
into the flow a real 100-TB data-prep run executes:

    scan documents
      -> profile          (token/char/lang/quality features, scan-local)
      -> clean            (quality AND lang AND near-dup AND repetition)
      -> [lm_filter]      (opt-in r6: bigram-LM corpus-typicality gate,
                           self-scored on the cleaned corpus — the
                           CCNet-family LM step between heuristic gates
                           and split/dedup; operators/lm.py)
      -> split            (deterministic hash train/eval split)
      -> decontaminate    (drop train docs leaking into the eval slice,
                           exact + MinHash-near levels)
      -> excise           (substring dedup APPLY, r5: maximal duplicated
                           runs vs owner docs cut token-exactly — Lee et
                           al.; runs over the RAW text the chunker
                           fingerprints, before scrub rewrites it)
      -> scrub            (PII removal — detect + [TYPE] splice, the
                           reference's analyzer over the corpus; runs
                           BEFORE packing because replacements change
                           token counts)
      -> pack             (greedy token-budget packs in xxhash64 buckets)
      -> pack_stats + metrics table

Same checkpoint contract as the KG pipeline (StagedPipeline): each stage
writes parquet + a _MANIFEST.json with chained input fingerprints,
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.chunking import excise_duplicate_spans
from ..operators.contamination import decontaminate
from ..operators.dedup import clean_corpus
from ..operators.lm import lm_score_docs
from ..operators.packing import pack_documents, pack_stats
from ..operators.sampling import train_eval_split
from ..operators.scrub import scrub_documents
from ..operators.textstats import lang_quality, text_profile
from ..sources.tables import read_tpch
from .pipeline import StagedPipeline, _fingerprint_path

PACK_BUDGET = 256
PACK_BUCKETS = 32
EVAL_FRACTION = 0.05


@dataclass
class CorpusPipeline(StagedPipeline):
    lang: str = "lat"          # the driver corpus is Latin word-salad
    eval_fraction: float = EVAL_FRACTION
    # r6 (VERDICT r5 #8): budget packs with the TRAINED tokenizer —
    # merges are induced from the scrubbed corpus (the text that ships)
    # and n_tokens becomes the trained-BPE count, so pack budgets match
    # what the training run actually consumes.  Off by default: the
    # whitespace-count goldens stay stable, and the trained counter is a
    # corpus-profile decision like every other flag here.
    bpe_pack: bool = False
    # r6: bigram-LM corpus-typicality filter (operators/lm.py) — the
    # CCNet-family LM step between the heuristic clean gates and the
    # split/dedup stages: self-score the cleaned corpus and drop the
    # atypical tail (keep = avg bigram log-prob >= LM_KEEP_MIN_AVG_FP).
    # Off by default for the same golden-stability reason as bpe_pack.
    lm_filter: bool = False
    # r7 (VERDICT r6 #8): recall-1.0 excision mode — adds the winnowed
    # k-gram candidate pass (shingle_candidate_pairs) to the excise
    # stage so duplicated runs below the CDC resync horizon (which
    # chunk-hash blocking can NEVER pair, SCALE.md §7e) still reach the
    # exact-span verify.  Costs candidate volume (measured in SCALE.md
    # §7e/§7h); a corpus-profile decision, hence a flag like the rest.
    shingle_tail: bool = False

    def run(self) -> dict[str, DataFrame]:
        spark = self.spark
        docs = read_tpch(spark, self.sf_dir, "documents")
        fp_src = _fingerprint_path(Path(self.sf_dir) / "documents.parquet")

        profile = self._stage(
            "profile", fp_src,
            lambda: text_profile(docs).join(
                lang_quality(docs).drop("n_tokens"), "doc_id"
            ),
        )

        fp_clean = f"{fp_src}|lang={self.lang}|rep"
        cleaned_ids = self._stage(
            "clean", fp_clean,
            lambda: clean_corpus(docs, lang=self.lang, with_repetition=True),
        )
        cleaned = docs.join(
            cleaned_ids.select("doc_id"), "doc_id", "left_semi"
        )

        lm_scores_tbl = None
        if self.lm_filter:
            # self-scored on the CLEANED corpus (the text the gates kept)
            # so the model reflects what could actually ship; integer
            # micro-nat arithmetic, deterministic at any parallelism
            fp_clean = fp_clean + "|lm"
            lm_scores_tbl = self._stage(
                "lm_filter", fp_clean,
                lambda: lm_score_docs(cleaned).filter(F.col("keep"))
                .select("doc_id", "n_bigrams", "lp_sum_fp"),
            )
            cleaned = cleaned.join(
                lm_scores_tbl.select("doc_id"), "doc_id", "left_semi"
            )

        fp_split = f"{fp_clean}|eval={self.eval_fraction}"
        split = self._stage(
            "split", fp_split,
            lambda: train_eval_split(cleaned, self.eval_fraction)
            .select("doc_id", "split"),
        )
        train = cleaned.join(
            split.filter(F.col("split") == "train").select("doc_id"),
            "doc_id", "left_semi",
        )
        eval_docs = cleaned.join(
            split.filter(F.col("split") == "eval").select("doc_id"),
            "doc_id", "left_semi",
        )

        decon = self._stage(
            "decontaminate", fp_split + "|decon",
            lambda: decontaminate(train, eval_docs),
        )

        # substring dedup APPLY: duplicated boilerplate spans are cut
        # token-exactly before scrub/pack — both excision and scrubbing
        # change token counts, so both precede packing; excision runs
        # first so span boundaries come from the raw text the chunk
        # fingerprints were computed over, not scrub-rewritten text
        fp_excise = fp_split + "|decon|excise" \
            + ("|shingle" if self.shingle_tail else "")
        excised = self._stage(
            "excise", fp_excise,
            lambda: excise_duplicate_spans(
                decon, shingle_tail=self.shingle_tail
            ).select(
                "doc_id", "n_excised_tokens",
                F.col("clean_text").alias("text"),
            ),
        )

        # PII scrub BEFORE packing: replacements change token counts, so
        # packs must be built over the text that actually ships
        fp_scrub = fp_excise + "|scrub"
        scrubbed = self._stage(
            "scrub", fp_scrub,
            lambda: scrub_documents(excised).select(
                "doc_id", "n_pii",
                F.col("scrubbed_text").alias("text"),
            ),
        )

        def build_packs():
            merges = None
            if self.bpe_pack:
                # trained inside the stage closure so a SKIPped resume
                # never pays the training scan; the merge list is a pure
                # function of the scrubbed text, which fp_scrub already
                # fingerprints
                from ..operators.bpe import bpe_train

                merges = bpe_train(scrubbed.select("doc_id", "text"))
            return pack_documents(scrubbed.select("doc_id", "text"),
                                  budget_tokens=PACK_BUDGET,
                                  n_buckets=PACK_BUCKETS,
                                  merges=merges)

        fp_pack = fp_scrub + f"|budget={PACK_BUDGET}|b={PACK_BUCKETS}" \
            + (f"|bpe_pack={self.bpe_pack}" if self.bpe_pack else "")
        packs = self._stage("pack", fp_pack, build_packs)
        stats = self._stage(
            "pack_stats", fp_pack + "|stats",
            lambda: pack_stats(packs, PACK_BUDGET),
        )

        self._write_metrics()
        out = {} if lm_scores_tbl is None else {"lm_kept": lm_scores_tbl}
        return out | {
            "profile": profile,
            "clean": cleaned_ids,
            "split": split,
            "train_clean": decon,
            "excised": excised,
            "scrubbed": scrubbed,
            "packs": packs,
            "pack_stats": stats,
        }
