"""streaming/dedup.py — first-arrival-wins on a stream, batch/stream
agreement, and duplicate suppression across micro-batches."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import types as T

from youtube_scraper_db_spark.streaming import dedup_stream

SCHEMA = T.StructType(
    [
        T.StructField("video_id", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("payload", T.StringType()),
    ]
)


def _rows(spark, rows):
    data = [
        (vid, dt.datetime(2024, 1, 1, 10, m, tzinfo=dt.timezone.utc), p)
        for vid, m, p in rows
    ]
    return spark.createDataFrame(data, SCHEMA)


def test_batch_dedup(spark):
    df = _rows(spark, [("a", 0, "x"), ("a", 5, "y"), ("b", 1, "z")])
    got = dedup_stream(df, ["video_id"]).collect()
    assert sorted(r.video_id for r in got) == ["a", "b"]


def test_stream_dedup_across_microbatches(spark, tmp_path):
    # two source files → two micro-batches; 'a' repeats in both
    batch1 = _rows(spark, [("a", 0, "x"), ("b", 1, "z")])
    batch2 = _rows(spark, [("a", 5, "y"), ("c", 6, "w")])
    src = tmp_path / "src"
    batch1.coalesce(1).write.parquet(str(src / "f1"))
    batch2.coalesce(1).write.parquet(str(src / "f2"))

    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(str(src / "*"))
    deduped = dedup_stream(stream, ["video_id"], watermark="10 minutes")

    collected: list = []

    def sink(batch, epoch_id):
        collected.extend(batch.collect())

    (
        deduped.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    assert sorted(r.video_id for r in collected) == ["a", "b", "c"]


def test_stream_lsh_delete_equals_rebuild(spark, tmp_path):
    # tombstoned docs vanish from the LIVE index: post-delete sigs and
    # bands equal the one-shot build over the remaining docs, and a
    # fresh probe of the live index no longer surfaces deleted docs
    from pyspark.sql import functions as F

    from youtube_scraper_db_spark.llm.dedup import (
        lsh_pairs_from_index,
        minhash_band_table,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from youtube_scraper_db_spark.streaming.dedup import (
        run_lsh_delete_stream,
        run_lsh_ingest_stream,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog number {i % 4}")
         for i in range(24)],
        "doc long, text string",
    )

    def _stream(df, path, n, schema):
        df.repartition(n).write.mode("overwrite").parquet(path)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    idx = str(tmp_path / "idx")
    run_lsh_ingest_stream(
        _stream(docs, str(tmp_path / "src"), 3, "doc long, text string"),
        idx, str(tmp_path / "ck1"), 16, 8, 3, portable=True,
    )
    deleted = docs.where(F.col("doc") % 3 == 0)
    remaining = docs.where(F.col("doc") % 3 != 0)
    _pairs, sigs, bands = run_lsh_delete_stream(
        _stream(deleted.select("doc"), str(tmp_path / "dsrc"), 2,
                "doc long"),
        idx, str(tmp_path / "ck2"),
    )
    want_sigs = minhash_signatures(
        remaining, "doc", "text", 16, 3, portable=True
    )
    want_bands = minhash_band_table(want_sigs, 16, 8, portable=True)
    assert sigs.exceptAll(want_sigs).count() == 0
    assert want_sigs.exceptAll(sigs).count() == 0
    assert bands.exceptAll(want_bands).count() == 0
    assert want_bands.exceptAll(bands).count() == 0
    live_pairs = lsh_pairs_from_index(bands, sigs, 16)
    want_pairs = minhash_lsh_pairs(
        remaining, "doc", "text", num_hashes=16, bands=8, portable=True
    )
    assert live_pairs.exceptAll(want_pairs).count() == 0
    assert want_pairs.exceptAll(live_pairs).count() == 0


def test_stream_lsh_ingest_after_delete_skips_tombstoned(spark, tmp_path):
    # a post-delete ingest batch must not pair against tombstoned docs
    from pyspark.sql import functions as F

    from youtube_scraper_db_spark.streaming.dedup import (
        run_lsh_delete_stream,
        run_lsh_ingest_stream,
    )

    text = "identical text for every document here"
    first = spark.createDataFrame(
        [(i, text) for i in range(4)], "doc long, text string"
    )
    later = spark.createDataFrame(
        [(100, text)], "doc long, text string"
    )

    def _stream(df, path, schema):
        df.coalesce(1).write.mode("overwrite").parquet(path)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    idx = str(tmp_path / "idx")
    src = str(tmp_path / "src")
    ck1 = str(tmp_path / "ck1")
    run_lsh_ingest_stream(
        _stream(first, src, "doc long, text string"),
        idx, ck1, 16, 8, 3, portable=True,
    )
    # delete docs 0 and 1
    run_lsh_delete_stream(
        _stream(first.where(F.col("doc") < 2).select("doc"),
                str(tmp_path / "s2"), "doc long"),
        idx, str(tmp_path / "ck2"),
    )
    # the later arrival lands in the SAME source + checkpoint — the
    # store's incremental-ingest contract (a fresh checkpoint would
    # replay from batch 0 over the existing b_* logs)
    later.coalesce(1).write.mode("append").parquet(src)
    resumed = (
        spark.readStream.schema("doc long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    pairs, _sigs, _bands = run_lsh_ingest_stream(
        resumed, idx, ck1, 16, 8, 3, portable=True,
    )
    partners = {
        r["doc_a"] for r in pairs.where(F.col("doc_b") == 100).collect()
    }
    # doc 100 pairs with the LIVE docs 2 and 3 only — never 0/1
    assert partners == {2, 3}


def test_compact_lsh_store_preserves_live_views(spark, tmp_path):
    import os

    from pyspark.sql import functions as F

    from youtube_scraper_db_spark.streaming.dedup import (
        compact_lsh_store,
        read_lsh_store,
        run_lsh_delete_stream,
        run_lsh_ingest_stream,
    )

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog number {i % 4}")
         for i in range(24)],
        "doc long, text string",
    )

    def _stream(df, path, n, schema):
        df.repartition(n).write.mode("overwrite").parquet(path)
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(path)
        )

    idx = str(tmp_path / "idx")
    run_lsh_ingest_stream(
        _stream(docs, str(tmp_path / "src"), 3, "doc long, text string"),
        idx, str(tmp_path / "ck1"), 16, 8, 3, portable=True,
    )
    run_lsh_delete_stream(
        _stream(docs.where(F.col("doc") % 3 == 0).select("doc"),
                str(tmp_path / "dsrc"), 2, "doc long"),
        idx, str(tmp_path / "ck2"),
    )
    p0, s0, b0 = read_lsh_store(spark, idx)
    p0, s0, b0 = (x.localCheckpoint(eager=True) for x in (p0, s0, b0))
    compact_lsh_store(spark, idx)
    for sub in ("sigs", "bands", "pairs"):
        entries = sorted(os.listdir(os.path.join(idx, sub)))
        assert not any(d.startswith("b_") for d in entries), (sub, entries)
    assert not os.listdir(os.path.join(idx, "tombs"))
    p1, s1, b1 = read_lsh_store(spark, idx)
    for before, after in ((p0, p1), (s0, s1), (b0, b1)):
        assert after.exceptAll(before).count() == 0
        assert before.exceptAll(after).count() == 0


def _lsh_docs(spark, ids):
    return spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog number {i % 4}")
         for i in ids],
        "doc long, text string",
    )


def _lsh_stream(spark, df, path, n):
    df.repartition(n).write.mode("overwrite").parquet(path)
    return (
        spark.readStream.schema("doc long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )


def test_lsh_ingest_after_compaction_is_visible(spark, tmp_path):
    # a fresh checkpoint after compaction restarts batch ids at 0; the
    # new logs must not take names the baseline already consumed
    from pyspark.sql import functions as F

    from youtube_scraper_db_spark.llm.dedup import (
        minhash_band_table,
        minhash_lsh_pairs,
        minhash_signatures,
    )
    from youtube_scraper_db_spark.streaming.dedup import (
        compact_lsh_store,
        run_lsh_ingest_stream,
    )

    idx = str(tmp_path / "idx")
    run_lsh_ingest_stream(
        _lsh_stream(spark, _lsh_docs(spark, range(24)),
                    str(tmp_path / "s1"), 3),
        idx, str(tmp_path / "ck1"), 16, 8, 3, portable=True,
    )
    compact_lsh_store(spark, idx)
    pairs, sigs, bands = run_lsh_ingest_stream(
        _lsh_stream(spark, _lsh_docs(spark, range(24, 28)),
                    str(tmp_path / "s2"), 2),
        idx, str(tmp_path / "ck2"), 16, 8, 3, portable=True,
    )
    every = _lsh_docs(spark, range(28))
    want_sigs = minhash_signatures(every, "doc", "text", 16, 3, portable=True)
    want_bands = minhash_band_table(want_sigs, 16, 8, portable=True)
    assert sigs.count() == 28
    assert sigs.exceptAll(want_sigs).count() == 0
    assert want_sigs.exceptAll(sigs).count() == 0
    assert bands.exceptAll(want_bands).count() == 0
    assert want_bands.exceptAll(bands).count() == 0
    # the new docs pair with the earlier docs of the same text
    new = pairs.where(F.col("doc_b") >= 24)
    assert new.where(F.col("doc_a") < 24).count() > 0
    want_pairs = minhash_lsh_pairs(
        every, "doc", "text", num_hashes=16, bands=8, portable=True
    )
    assert pairs.exceptAll(want_pairs).count() == 0
    assert want_pairs.exceptAll(pairs).count() == 0


def test_lsh_replayed_batch_does_not_pair_with_itself(spark, tmp_path):
    # at-least-once replay: drop the last commit so the rerun re-executes
    # that batch over its own logs, which are already on disk
    import os

    from pyspark.sql import functions as F

    from youtube_scraper_db_spark.streaming.dedup import run_lsh_ingest_stream

    idx, ck = str(tmp_path / "idx"), str(tmp_path / "ck")
    src = str(tmp_path / "src")
    _lsh_stream(spark, _lsh_docs(spark, range(24)), src, 3)

    def ingest():
        updates = (
            spark.readStream.schema("doc long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        pairs, _sigs, _bands = run_lsh_ingest_stream(
            updates, idx, ck, 16, 8, 3, portable=True
        )
        return pairs

    first = ingest().localCheckpoint(eager=True)
    commits = os.path.join(ck, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdecimal())
    for f in (str(last), f".{last}.crc"):
        if os.path.exists(os.path.join(commits, f)):
            os.remove(os.path.join(commits, f))
    pairs = ingest()
    assert last == 2 and os.path.exists(os.path.join(commits, str(last)))
    assert pairs.where(F.col("doc_a") == F.col("doc_b")).count() == 0
    assert pairs.groupBy("doc_a", "doc_b").count().where(
        F.col("count") > 1
    ).count() == 0
    assert pairs.exceptAll(first).count() == 0
    assert first.exceptAll(pairs).count() == 0
