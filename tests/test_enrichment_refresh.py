"""W5: enrichment refresh — a streaming job re-reads the enrichment
store every micro-batch, so updates between batches affect later
lookups without restarting the query (the Spark form of the
reference's 3-minute snapshot sync)."""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from matano_spark.operators.enrichment import EnrichmentStore, enrich


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="matano_spark_er_")
    yield Path(d)
    shutil.rmtree(d, ignore_errors=True)


def test_enrichment_rebroadcast_per_batch(spark, tmpdir):
    store = EnrichmentStore(spark, str(tmpdir / "enrich"))
    store.write(
        "intel",
        spark.createDataFrame([("1.1.1.1", "benign")], ["ip", "verdict"]),
        mode="overwrite",
    )

    src = tmpdir / "src"
    src.mkdir()

    def write_events(name, ips, mtime):
        with open(src / name, "w") as f:
            for i, ip in enumerate(ips):
                f.write(json.dumps({"id": f"{name}-{i}", "ip": ip}) + "\n")
        os.utime(src / name, (mtime, mtime))

    # both files exist up front (availableNow snapshots the listing at
    # start); maxFilesPerTrigger=1 splits them into two ordered batches
    # and the intel store updates between them inside epoch 0.
    write_events("b1.json", ["1.1.1.1", "6.6.6.6"], 1_700_000_000)
    write_events("b2.json", ["6.6.6.6"], 1_700_000_100)

    schema = T.StructType(
        [T.StructField("id", T.StringType()), T.StructField("ip", T.StringType())]
    )
    stream = (
        spark.readStream.format("json")
        .schema(schema)
        .option("maxFilesPerTrigger", 1)
        .load(str(src))
    )
    out_rows = []
    seen = {}

    def process(batch, epoch_id):
        # re-read per batch → new snapshot, new broadcast (W5)
        intel = store.read("intel")
        seen[epoch_id] = sorted(tuple(r) for r in intel.collect())
        enriched = enrich(batch, intel, on={"ip": "ip"}, target="intel")
        for r in enriched.collect():
            d = r.asDict(recursive=True)
            out_rows.append((d["id"], d["intel"]["verdict"] if d["intel"] else None))
        # between batch 1 and 2: intel learns about 6.6.6.6
        if epoch_id == 0:
            store.write(
                "intel",
                spark.createDataFrame(
                    [("6.6.6.6", "malicious")], ["ip", "verdict"]
                ),
                mode="merge",
                primary_key="ip",
            )

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", str(tmpdir / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = dict(out_rows)
    assert got["b1.json-0"] == "benign"
    assert got["b1.json-1"] is None  # unknown at batch-1 time
    assert got["b2.json-0"] == "malicious"  # refreshed snapshot visible
    # the re-read sees the MERGED table: old rows kept, new row added
    assert seen[1] == [("1.1.1.1", "benign"), ("6.6.6.6", "malicious")]
