"""Streaming bridge: the batch extraction stages composed under
foreachBatch with availableNow, reading a file-source corpus stream."""

import glob

from theta_spark.corpus import CORPUS_SCHEMA, corpus_rows, generate_corpus
from theta_spark.streaming.ingest import attach_stream_incremental


def test_foreach_batch_extraction(spark, tmp_path):
    docs = generate_corpus(20, seed=42)
    src = str(tmp_path / "src")
    spark.createDataFrame(corpus_rows(docs), schema=CORPUS_SCHEMA).write.parquet(src)

    stream = spark.readStream.schema(CORPUS_SCHEMA).parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = attach_stream_incremental(stream, out, ckpt)
    q.awaitTermination(120)

    mentions = spark.read.parquet(out + "/mentions")
    triples = spark.read.parquet(out + "/triples")
    gold = {(s, p, o, d.doc_id) for d in docs for (s, p, o) in d.triples}
    got = {tuple(r) for r in triples.select("subj", "pred", "obj", "doc_id").collect()}
    assert mentions.count() > 0
    assert got == gold
    assert glob.glob(ckpt + "/*")  # streaming checkpoint written
