"""True crash-resume test (SURVEY §5.2 item 6): a subprocess running the
encode pipeline is SIGKILLed mid-job; a resumed run must complete and the
final chunk store must be bit-identical to an uninterrupted run."""

import glob
import json
import os
import signal
import subprocess
import sys
import time

CHILD = r"""
import sys; sys.path.insert(0, "/root/repo")
from json_to_parquet_spark.session import get_spark
from json_to_parquet_spark.sources.webpages import synth_webpages
from json_to_parquet_spark.plans import pipeline
spark = get_spark(cores=4, shuffle_partitions=4)
pages = synth_webpages(spark, 60000, seed=77)
print("READY", flush=True)
pipeline.run_encode(spark, pages, sys.argv[1], n_chunks=24)
print("DONE", flush=True)
"""


def test_sigkill_mid_encode_then_resume(spark, tmp_path):
    out = str(tmp_path / "enc")
    proc = subprocess.Popen([sys.executable, "-c", CHILD, out],
                            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                            text=True)
    # wait until the child is inside the pipeline, then kill the whole
    # process group hard (driver + JVM + workers)
    deadline = time.time() + 300
    while time.time() < deadline:
        line = proc.stdout.readline()
        if "READY" in line:
            break
    # kill once the first chunk file has landed: the encode job is then
    # running and its manifest write, the job's last step, is not done
    # (a fixed sleep raced the ~12 s encode on 4 cores)
    landed = os.path.join(out, "chunks", "chunk_id=*", "*.parquet")
    while (time.time() < deadline and proc.poll() is None
           and not glob.glob(landed)):
        time.sleep(0.05)
    assert proc.poll() is None, "child finished before the kill"
    proc.kill()
    proc.wait(timeout=60)

    # resume in-process: must skip whatever completed, redo the rest
    from json_to_parquet_spark.plans import pipeline
    from json_to_parquet_spark.sources.webpages import synth_webpages
    pages = synth_webpages(spark, 60000, seed=77)
    m = pipeline.run_encode(spark, pages, out, n_chunks=24)
    assert m["chunks_encoded"] + m["chunks_skipped"] >= 24
    assert pipeline.verify_encoded(spark, pages, out)["ok"]

    # final store equals an uninterrupted run chunk-for-chunk
    ref = str(tmp_path / "ref")
    pipeline.run_encode(spark, pages, ref, n_chunks=24)
    a = {(r.chunk_id, r.column): r.checksum for r in
         spark.read.parquet(out + "/chunks")
         .select("chunk_id", "column", "checksum").collect()}
    b = {(r.chunk_id, r.column): r.checksum for r in
         spark.read.parquet(ref + "/chunks")
         .select("chunk_id", "column", "checksum").collect()}
    assert a == b
