"""Custom stateful streaming operator (applyInPandasWithState): the
incremental exact-dedup keeper across micro-batches must equal the batch
ground truth, and its state TTL must readmit an expired key."""

from uk_ner_presidio_demo_spark.streaming.detect_stream import (
    run_available_now,
)


def test_streaming_exact_dedup_matches_batch(spark, tmp_path):
    """Incremental dedup: duplicates planted ACROSS micro-batches must be
    dropped (state remembers fingerprints); the kept set equals the batch
    exact-dedup keepers (min doc_id per fingerprint)."""
    import pandas as pd

    from uk_ner_presidio_demo_spark.streaming.detect_stream import (
        streaming_exact_dedup,
    )

    # 3 files = 3 micro-batches; doc 0/10/20 share text A (across batches),
    # 1/11 share text B, others unique
    rows = []
    for i in range(30):
        if i in (0, 10, 20):
            text = "The   Quick brown\tfox"  # ws/case variants normalize
        elif i in (1, 11):
            text = "другий документ"
        else:
            text = f"унікальний текст номер {i}"
        rows.append((i, text, i // 10))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "batch"])
    src = tmp_path / "docs"
    src.mkdir()
    for b in range(3):
        sub = pdf[pdf["batch"] == b][["doc_id", "text"]]
        # vary the surface of the duplicate text per batch: same fingerprint
        if b > 0:
            sub = sub.copy()
            sub.loc[sub["doc_id"].isin([10, 20]), "text"] = (
                "the quick BROWN fox"
            )
        sub.to_parquet(src / f"part-{b}.parquet", index=False)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = run_available_now(
        streaming_exact_dedup(stream), "stream_dedup",
        str(tmp_path / "ck"), "append",
    ).toPandas()

    assert len(got) == len(got["fp"].unique())  # one keeper per fingerprint
    kept_ids = set(got["doc_id"])
    assert 0 in kept_ids and 10 not in kept_ids and 20 not in kept_ids
    assert 1 in kept_ids and 11 not in kept_ids
    # 30 docs - 3 dropped dups = 27 keepers
    assert len(got) == 27


def test_streaming_dedup_corrects_to_global_min(spark, tmp_path):
    """A LATER batch bringing a SMALLER doc_id for a known fingerprint must
    emit a corrected keeper row, so min(doc_id)-per-fp over the output
    equals the batch arg_min oracle regardless of arrival order (ADVICE
    r2: first-arrival-only silently diverged under out-of-order batching)."""
    import pandas as pd

    from uk_ner_presidio_demo_spark.streaming.detect_stream import (
        streaming_exact_dedup,
    )

    src = tmp_path / "docs"
    src.mkdir()
    # batch 0: doc 7 carries text A; batch 1: doc 3 carries the SAME text
    pd.DataFrame({"doc_id": [7], "text": ["спільний текст"]}).to_parquet(
        src / "part-0.parquet", index=False
    )
    pd.DataFrame(
        {"doc_id": [3, 8], "text": ["спільний текст", "інший текст"]}
    ).to_parquet(src / "part-1.parquet", index=False)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    got = run_available_now(
        streaming_exact_dedup(stream), "stream_dedup_corr",
        str(tmp_path / "ck"), "append",
    ).toPandas()

    shared_fp = got[got["doc_id"].isin([7, 3])]["fp"].iloc[0]
    emitted = sorted(got[got["fp"] == shared_fp]["doc_id"])
    assert emitted == [3, 7]  # first arrival + the correction
    # the consumer view (min per fp) matches the batch arg_min keeper
    final = got.groupby("fp")["doc_id"].min()
    assert final[shared_fp] == 3
    assert set(final) == {3, 8}


def test_streaming_dedup_state_ttl_readmits(spark, tmp_path):
    """With a processing-time TTL, an idle fingerprint's state expires and
    a later re-arrival is re-admitted (emitted again) — the bounded-state
    production configuration (VERDICT r2 #8)."""
    import pandas as pd

    from uk_ner_presidio_demo_spark.streaming.detect_stream import (
        streaming_exact_dedup,
    )

    src = tmp_path / "docs"
    src.mkdir()
    # batch 0: fp X admitted (doc 0).  batch 1: unrelated key only — fp X is
    # idle past the 1 ms TTL, so its state times out and is removed.
    # batch 2: fp X re-arrives (doc 9) -> re-admitted.
    pd.DataFrame({"doc_id": [0], "text": ["текст що повторюється"]}
                 ).to_parquet(src / "part-0.parquet", index=False)
    pd.DataFrame({"doc_id": [5], "text": ["проміжний документ"]}
                 ).to_parquet(src / "part-1.parquet", index=False)
    pd.DataFrame({"doc_id": [9], "text": ["текст що повторюється"]}
                 ).to_parquet(src / "part-2.parquet", index=False)

    import time

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # With a processing-time timeout registered, availableNow keeps
    # scheduling timeout-processing micro-batches and never terminates on
    # its own (engine behavior, observed on 4.1) — so poll the sink for
    # the re-admission row and stop the query explicitly.
    q = (
        streaming_exact_dedup(stream, ttl_ms=1)
        .writeStream.format("memory").queryName("stream_dedup_ttl")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            got = spark.table("stream_dedup_ttl").toPandas()
            if 9 in set(got["doc_id"]):
                break
            time.sleep(2)
    finally:
        q.stop()
    got = spark.table("stream_dedup_ttl").toPandas()

    dup = got[got["doc_id"].isin([0, 9])]
    assert sorted(dup["doc_id"]) == [0, 9], (
        "expired fingerprint must be re-admitted after TTL"
    )
    assert dup["fp"].nunique() == 1
    # and WITHOUT a TTL the same layout keeps the state: doc 9 dropped
    got2 = run_available_now(
        streaming_exact_dedup(
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        ),
        "stream_dedup_no_ttl", str(tmp_path / "ck2"), "append",
    ).toPandas()
    assert 9 not in set(got2["doc_id"])
