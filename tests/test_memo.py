"""The one content-keyed memo: build-once values follow their inputs,
path spellings share a slot, and the LRU is bounded."""

import os
import shutil
import time
from collections import OrderedDict

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as papq
from pyspark.sql import functions as F


def test_read_table_rewritten_file_serves_new_content(spark, tmp_path):
    """A single-file table rewritten in place (new schema, new row
    count) in the same session answers with the new content."""
    from panoptes_spark.sources import tpch_fixtures as fx

    d, path = str(tmp_path), str(tmp_path / "t.parquet")
    papq.write_table(pa.table({"n": range(100)}), path)
    assert fx.read_table(spark, d, "t").agg(F.sum("n")).first()[0] == 4950
    papq.write_table(pa.table({"n": range(2000), "m": range(2000)}), path)
    df = fx.read_table(spark, d, "t")
    assert df.agg(F.sum("n")).first()[0] == 1999000
    assert df.count() == 2000
    assert df.columns == ["n", "m"]


def test_read_table_overwritten_spark_dir(spark, tmp_path):
    """A Spark-written table dir overwritten in the same session is
    re-resolved instead of pointing at deleted part files."""
    from panoptes_spark.sources import tpch_fixtures as fx

    d, path = str(tmp_path), str(tmp_path / "t.parquet")
    spark.range(10).write.parquet(path)
    assert fx.read_table(spark, d, "t").count() == 10
    spark.range(25).write.mode("overwrite").parquet(path)
    assert fx.read_table(spark, d, "t").count() == 25


def test_path_spellings_share_one_slot(spark, sf_dir, tmp_path, monkeypatch):
    """A trailing slash does not retrain the tokenizer, and a relative
    and an absolute sf_dir give one slot and the same plan object."""
    from panoptes_spark.pipeline import gate_queries, tokenizer
    from panoptes_spark.sources import tpch_fixtures as fx

    # a private corpus, so no earlier test filled its merge-table slot
    d = str(tmp_path)
    docs = papq.read_table(os.path.join(sf_dir, "documents.parquet"))
    papq.write_table(docs.slice(0, 40), os.path.join(d, "documents.parquet"))
    calls, train = [], tokenizer.bpe_train
    counting = lambda *a, **k: calls.append(1) or train(*a, **k)  # noqa: E731
    monkeypatch.setattr(tokenizer, "bpe_train", counting)
    gate_queries.q_bpe_encode(spark, d)
    gate_queries.q_bpe_encode(spark, d + "/")
    assert len(calls) == 1

    absolute = os.path.realpath(sf_dir)
    a = fx.read_table(spark, absolute, "nation")
    assert fx.read_table(spark, os.path.relpath(absolute), "nation") is a
    from panoptes_spark import memo

    key = (spark.sparkContext.applicationId, "relation",
           os.path.join(absolute, "nation.parquet"))
    assert sum(k[:3] == key for k in memo._ENTRIES) == 1


def test_gate_artifact_follows_its_input(spark, sf_dir, tmp_path):
    """A build-once gate artifact is rebuilt when its input table is
    rewritten: the second answer matches the new input's oracle."""
    import __spark_entry__ as entrymod
    from tools.check import canon_pdf

    src = os.path.join(sf_dir, "documents.parquet")
    dst = str(tmp_path / "documents.parquet")
    docs = papq.read_table(src)
    papq.write_table(
        docs.filter(pc.equal(pc.bit_wise_and(docs["doc_id"], 1), 0)), dst
    )
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{dst}'")

    def check():
        got = entrymod.queries()["dedup_minhash_pairs"](spark, str(tmp_path))
        want = con.sql(entrymod.oracle_sql()["dedup_minhash_pairs"]).df()
        assert canon_pdf(got.toPandas()) == canon_pdf(want)
        return len(want)

    n_half = check()
    shutil.copyfile(src, dst)
    assert check() > n_half


def test_memo_bound_evicts_lru_and_keeps_one_generation(
    spark, tmp_path, monkeypatch
):
    from panoptes_spark import memo

    monkeypatch.setattr(memo, "_ENTRIES", OrderedDict())
    monkeypatch.setattr(memo, "_MAX_ENTRIES", 3)
    paths = [os.path.realpath(tmp_path / f"f{i}") for i in range(5)]
    for i in range(5):
        (tmp_path / f"f{i}").write_text("x" * (i + 1))

    def get(i, build):
        return memo.cached(spark, ("t", paths[i]), [paths[i]], build)

    for i in range(3):
        assert get(i, lambda i=i: i) == i
    assert get(0, lambda: "stale") == 0  # a hit: slot 0 is now the newest
    get(3, lambda: 3)
    held = [k[2] for k in memo._ENTRIES]
    assert len(held) <= 3 and paths[1] not in held and paths[0] in held
    get(4, lambda: 4)
    assert len(memo._ENTRIES) <= 3

    # a rewritten source rebuilds and replaces its slot
    (tmp_path / "f4").write_text("rewritten")
    assert get(4, lambda: time.sleep(0.05) or "new") == "new"
    assert [k[2] for k in memo._ENTRIES].count(paths[4]) == 1
    assert memo.build_s("t") >= 0.05 and memo.build_s("absent") == 0.0

    # an unlistable source is built every time and never held
    n, missing = len(memo._ENTRIES), str(tmp_path / "missing")
    assert memo.cached(spark, ("t", missing), [missing], lambda: 7) == 7
    assert len(memo._ENTRIES) == n
