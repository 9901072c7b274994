"""Multi-executor deployability golden (north rule: "run via spark-submit
--py-files on a multi-executor cluster").

Runs the UNMODIFIED engine on `local-cluster[2,1,1024]` — two real executor
JVMs with their own Python workers, cross-process netty shuffle, broadcasts
serialized across JVM boundaries, localCheckpoint blocks on executor
storage, and the package shipped via ``spark.submit.pyFiles`` (the same zip
``scripts/make_pyfiles.sh`` builds for spark-submit) — and asserts the
crawl order and seen set are byte-identical to the pure-Python oracle.
This is the determinism claim under the conditions a real cluster adds:
task placement across processes, independent worker interpreters, and
non-shared JVM state.

Perf note (measured round 3): multi-JVM on ONE box is SLOWER than local[N]
threads (socket shuffle + serialization with no added hardware), so this is
a correctness/deployability gate, not a throughput probe — the scaling
story stays in bench.py + BENCH/BASELINE.md.
"""

import pathlib
import shutil
import subprocess
import sys
import tempfile
import zipfile

import pytest

from fetcho_spark import fixtures as fx
from fetcho_spark.crawl import CrawlConfig
from fetcho_spark.simulator import simulate

N_PAGES, N_HOSTS, N_IMAGES, N_SEEDS, N_ROUNDS = 50, 10, 15, 6, 2

CFG = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14)

_DRIVER = '''
import json, sys, tempfile
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local-cluster[2,1,1024]")
         .appName("lc-golden")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.submit.pyFiles", sys.argv[1])
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
from fetcho_spark import fixtures as fx
from fetcho_spark.catalog import Catalog
from fetcho_spark.crawl import CrawlConfig, CrawlEngine
cfg = CrawlConfig(max_chunk=50, n_seen_buckets=8, bits_per_bucket=1 << 14)
cat = Catalog(spark, tempfile.mkdtemp(prefix="lc-golden-"))
eng = CrawlEngine(spark, cat, cfg)
wg = fx.gen_webgraph({np}, {nh}, {ni})
eng.init(fx.gen_seeds(wg, {ns}), fx.webgraph_df(spark, {np}, {nh}, {ni}),
         fx.images_df(spark, {ni}), fx.robots_df(spark, {nh}),
         fx.hosts_df(spark, {nh}))
eng.run({nr})
log = [[r["round"], r["fetch_seq"], r["url"], r["status"], r["priority"]]
       for r in cat.read("fetched").orderBy("round", "fetch_seq").collect()]
seen = sorted(int(r["url_hash64"]) for r in
              cat.read("seen").select("url_hash64").collect())
print("RESULT::" + json.dumps({{"log": log, "seen": seen}}))
spark.stop()
'''


def _pyfiles_zip(tmpdir: str) -> str:
    root = pathlib.Path(__file__).resolve().parents[1]
    zpath = pathlib.Path(tmpdir) / "fetcho_spark.zip"
    with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
        for p in sorted((root / "fetcho_spark").glob("**/*.py")):
            z.write(p, p.relative_to(root).as_posix())
    return str(zpath)


@pytest.mark.spark
@pytest.mark.slow
def test_crawl_on_separate_executor_jvms_matches_oracle():
    d = tempfile.mkdtemp(prefix="lc-test-")
    try:
        zpath = _pyfiles_zip(d)
        driver = pathlib.Path(d) / "driver.py"
        driver.write_text(_DRIVER.format(np=N_PAGES, nh=N_HOSTS,
                                         ni=N_IMAGES, ns=N_SEEDS,
                                         nr=N_ROUNDS))
        proc = subprocess.run(
            [sys.executable, str(driver), zpath],
            capture_output=True, text=True, timeout=600,
            cwd=str(pathlib.Path(__file__).resolve().parents[1]))
        assert proc.returncode == 0, proc.stderr[-3000:]
        line = [ln for ln in proc.stdout.splitlines()
                if ln.startswith("RESULT::")]
        assert line, proc.stdout[-2000:]
        import json
        got = json.loads(line[0][len("RESULT::"):])
        wg = fx.gen_webgraph(N_PAGES, N_HOSTS, N_IMAGES)
        sim = simulate(fx.gen_seeds(wg, N_SEEDS), wg,
                       fx.gen_robots(N_HOSTS), fx.gen_hosts(N_HOSTS),
                       N_ROUNDS, CFG)
        want_log = [[r["round"], r["fetch_seq"], r["url"], r["status"],
                     r["priority"]] for r in sim.log]
        assert len(got["log"]) > 0
        assert got["log"] == want_log
        assert got["seen"] == sorted(sim.seen.keys())
    finally:
        shutil.rmtree(d, ignore_errors=True)
