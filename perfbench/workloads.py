"""The benchmark's three closed-loop workloads and their traced layer chains.

A workload owns one SparkSession at a time. Per run:

* ``setup(tr)``    fresh session + input registration + one small warm-up
                   job (repeated; ``setup_s`` is the median);
* ``prime()``      untimed work done once before timing, in the last
                   session: a full job, or the ingest base table;
* ``land(i)``      untimed input arrival before job ``i`` (ingest);
* ``run(i)``       job ``i`` through the engine's public plan functions;
* ``run_traced(i, tr)``  the same job with every layer on its path called
                   and materialized on its own inside a span;
* ``check(i, result)``  untimed: ``(input docs, digest key, digest)``;
* ``probe(tr)``    layers off the workload's path, once, on small inputs,
                   so every per-layer metric is measured on every workload;
* ``resume_noop()``  a re-run through ``run_resumable`` when every input
                   document is already in the lineage.

Layer spans stop before any bookkeeping count, so a span's self time is
the layer's own work.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from satellitetools_spark.biophys.nn import N_FEATURES, load_nn_params, run_nn
from satellitetools_spark.constants import S2_BANDS_10_20, SNAP_BIO_BANDS
from satellitetools_spark.operators.indices import compute_vegetation_index
from satellitetools_spark.operators.quality import select_survivors
from satellitetools_spark.operators.timeseries import dataset_to_timeseries
from satellitetools_spark.plans.corpus import train_data_pipeline
from satellitetools_spark.plans.lineage import (
    resume_filter,
    run_resumable,
    write_with_lineage,
)
from satellitetools_spark.plans.pipeline import (
    flagship_timeseries,
    get_s2_qi_and_data,
)
from satellitetools_spark.session import get_spark
from satellitetools_spark.sources.decode import decode_documents, qi_percentages
from satellitetools_spark.sources.docs import read_documents


FLAGSHIP_VARS = ("ndvi", "lai")
# the phase-2 decode flagship_timeseries(docs, FLAGSHIP_VARS) plans: the
# bands NDVI and the SNAP LAI net read, with both fused into the decode
FLAGSHIP_BANDS = [b for b in S2_BANDS_10_20
                  if b in {"B4", "B8A", *SNAP_BIO_BANDS}]
INGEST_BANDS = ["B4", "B8A"]
# (output column, digits) in the rounding of the geo_ndvi_timeseries and
# geo_lai_timeseries oracle queries (__spark_entry__.oracle_sql)
FLAGSHIP_DIGEST_COLS = (
    ("ndvi", 6), ("ndvi_F050", 6), ("ndvi_std", 6), ("ndvi_se", 6),
    ("ndvi_aoi_nan_percentage", 6),
    ("lai", 5), ("lai_F050", 5), ("lai_std", 5), ("lai_se", 5),
    ("lai_uncertainty", 5), ("lai_F0025", 5), ("lai_F0975", 5),
    ("lai_aoi_nan_percentage", 6),
)
NN_PIXELS = 65536
PRIME_JOBS = 1
NN_REPS = 5


def _sha(obj) -> str:
    return hashlib.sha256(json.dumps(obj).encode()).hexdigest()[:16]


def timeseries_digest(rows) -> str:
    """Digest of ``(aoi, 'YYYY-MM-DD hh:mm:ss', *values)`` tuples in
    FLAGSHIP_DIGEST_COLS order, rounded like the oracle queries."""
    canon = []
    for r in rows:
        vals = [None if v is None else round(float(v), d) + 0.0
                for v, (_c, d) in zip(r[2:], FLAGSHIP_DIGEST_COLS)]
        canon.append([r[0], r[1], *vals])
    return _sha(sorted(canon, key=lambda c: (c[0], c[1])))


def flagship_rows(spark_rows) -> list:
    return [(r["aoi"], r["time"].strftime("%Y-%m-%d %H:%M:%S"),
             *(r[c] for c, _d in FLAGSHIP_DIGEST_COLS)) for r in spark_rows]


def _hash_agg(df, cols):
    """``(rows, order-independent exact hash)`` of ``df`` in one job."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")
               ).collect()[0]
    return int(r["n"]), str(r["h"])


def _slice(docs):
    """About 1/32 of ``docs``, spread over every file, so a warm-up job
    has the full job's plan and starts a Python worker on every core."""
    return docs.filter(F.xxhash64("doc_id") % 32 == 0)


def _materialize(df):
    return df.localCheckpoint(eager=True)


def _file_bytes(paths) -> int:
    return sum(os.path.getsize(p.removeprefix("file:")) for p in paths)


def _data_files(root: str) -> dict:
    out = {}
    for d, _sub, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _parquet_rows(root: str) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in _data_files(root))


def _seed_lineage(docs, lineage_dir: str) -> None:
    """A lineage table naming every document of ``docs`` as done."""
    docs.select(F.lit("seeded").alias("run_id"), "doc_id",
                F.lit(0).cast("long").alias("n_rows"),
                F.lit("").alias("file"),
                F.lit(0.0).alias("finished_at")
                ).write.mode("overwrite").parquet(lineage_dir)


# ---------------------------------------------------------------------------
# layers, each called and materialized on its own inside a span
# ---------------------------------------------------------------------------

def layer_read(tr, spark, path: str):
    with tr.span("sources.read_documents") as c:
        docs = read_documents(spark, path)
        width = F.size("spans") if "spans" in docs.columns else F.length("text")
        r = docs.agg(F.count(F.lit(1)).alias("n"), F.sum(width)).collect()[0]
    c["docs"] = int(r["n"])
    c["bytes"] = _file_bytes(docs.inputFiles())
    return docs, c["docs"]


def layer_qi(tr, docs):
    with tr.span("sources.qi_percentages") as c:
        qi = _materialize(qi_percentages(docs))
    c["rows"] = qi.count()
    return qi


def layer_survivors(tr, qi, n_docs: int):
    with tr.span("operators.quality.select_survivors") as c:
        surv = _materialize(select_survivors(qi))
    c["survivors"] = surv.count()
    c["survivor_ratio"] = c["survivors"] / max(n_docs, 1)
    return surv


def layer_decode(tr, docs, surv, bands, vi_vars=(), snap_vars=(), ndvi_col=False):
    with tr.span("sources.decode_documents") as c:
        docs_f = docs.join(F.broadcast(surv.select("doc_id")), "doc_id", "left_semi")
        px = decode_documents(docs_f, bands, vi_vars=list(vi_vars),
                              snap_vars=list(snap_vars))
        if ndvi_col:
            px = compute_vegetation_index(px, "ndvi")
        px = _materialize(px)
    c["docs"] = surv.count()
    c["pixels"] = px.count()
    return px


def layer_timeseries(tr, pixels, variables):
    with tr.span("operators.timeseries.dataset_to_timeseries") as c:
        rows = dataset_to_timeseries(
            pixels, list(variables), add_uncertainty=True,
            add_confidence_intervals=True, confidence_level="95",
        ).orderBy("aoi", "time").collect()
        c["groups"] = len(rows)
    return rows


def layer_write(tr, pixels, out_dir: str, lineage_dir: str, attempted):
    before = {**_data_files(out_dir), **_data_files(lineage_dir)}
    n_px = pixels.count()
    with tr.span("plans.lineage.write_with_lineage") as c:
        rid = write_with_lineage(pixels, out_dir, lineage_dir, attempted=attempted)
    new = {p: s for p, s in {**_data_files(out_dir),
                             **_data_files(lineage_dir)}.items() if p not in before}
    c["files_written"] = len(new)
    c["bytes_written"] = sum(new.values())
    c["bytes_per_pixel"] = c["bytes_written"] / max(n_px, 1)
    return rid


def layer_resume(tr, docs, lineage_dir: str):
    with tr.span("plans.lineage.resume_filter") as c:
        todo = resume_filter(docs, lineage_dir)
        n = todo.count()
    c["lineage_rows"] = _parquet_rows(lineage_dir)
    return todo, n


def layer_corpus(tr, docs, n_docs: int):
    with tr.span("plans.corpus.train_data_pipeline") as c:
        out = train_data_pipeline(docs)
        n, h = _hash_agg(out, out.columns)
    c["docs_in"] = n_docs
    c["docs_out"] = n
    c["keep_ratio"] = n / max(n_docs, 1)
    return n, h


def layer_nn(tr, seed: int) -> None:
    """The SNAP MLP kernel in the driver, single-threaded, on a seeded
    in-domain feature array of fixed size; one span per repetition."""
    p = load_nn_params("LAI")
    rng = np.random.default_rng(seed)
    feats = np.empty((NN_PIXELS, N_FEATURES))
    feats[:, :8] = rng.uniform(p["defdom_min"], p["defdom_max"], (NN_PIXELS, 8))
    feats[:, 8:] = rng.uniform(p["norm_min"][8:], p["norm_max"][8:],
                               (NN_PIXELS, N_FEATURES - 8))
    for _ in range(NN_REPS):
        with tr.span("biophys.nn.run_nn") as c:
            run_nn(feats, "LAI")
        c["pixels"] = NN_PIXELS


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Workload:
    """``run``/``run_traced`` are the timed part of a job and return its
    result; ``land`` (before) and ``check`` (after) are untimed."""
    name = ""

    def __init__(self, input_dir: str, info: dict, work: str,
                 cores: int, conf: dict, probe_dir: str | None = None):
        self.input_dir, self.info, self.work = input_dir, info, work
        self.cores, self.conf, self.probe_dir = cores, conf, probe_dir
        self.spark = None

    def setup(self, tr) -> None:
        with tr.span("session.get_spark", new_trace=True):
            self.spark = get_spark(f"perfbench-{self.name}",
                                   master=f"local[{self.cores}]",
                                   extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.register()
        self.warm_up()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def n_jobs(self):
        """Fixed job count, or None for as many as the run time allows."""
        return None

    def land(self, i: int) -> None:
        pass

    def prime(self) -> None:
        """Untimed full jobs (the first full job of a session is slower,
        and the JIT compiles the hot paths over the first few), then a
        lineage naming every input document."""
        for _ in range(PRIME_JOBS):
            self.run(0)
        _seed_lineage(self.docs, self.lineage_dir())

    def lineage_dir(self) -> str:
        return self.path("lineage")

    def resume_noop(self) -> tuple:
        """One exact-resume re-run over the input when every document is
        already in the lineage: ``(seconds, returned ('noop', 0))``."""
        t = time.perf_counter()
        res = run_resumable(read_documents(self.spark, self.table_path()),
                            self._never_built, self.path("noop_out"),
                            self.lineage_dir())
        return time.perf_counter() - t, res == ("noop", 0)

    @staticmethod
    def _never_built(_docs):
        raise AssertionError("a no-op resume must not build pixels")

    def probe_text(self, tr) -> None:
        docs, n = layer_read(tr, self.spark, os.path.join(self.probe_dir, "text"))
        layer_corpus(tr, docs, n)

    def probe_lineage(self, tr, docs, px, surv) -> None:
        out, lin = self.path("probe_out"), self.path("probe_lineage")
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(lin, ignore_errors=True)
        layer_write(tr, px, out, lin, surv.select("doc_id"))
        layer_resume(tr, docs, lin)


class FlagshipLai(Workload):
    """flagship_timeseries(docs, ('ndvi', 'lai')) over the seeded geo table."""
    name = "flagship_lai"

    def table_path(self) -> str:
        return os.path.join(self.input_dir, "docs")

    def register(self) -> None:
        self.docs = read_documents(self.spark, self.table_path())

    def warm_up(self) -> None:
        flagship_timeseries(_slice(self.docs), FLAGSHIP_VARS).collect()

    def run(self, i):
        return flagship_timeseries(self.docs, FLAGSHIP_VARS).collect()

    def run_traced(self, i, tr):
        with tr.span(f"job.{self.name}", new_trace=True):
            docs, n = layer_read(tr, self.spark, self.table_path())
            qi = layer_qi(tr, docs)
            surv = layer_survivors(tr, qi, n)
            px = layer_decode(tr, docs, surv, FLAGSHIP_BANDS, ["ndvi"], ["LAI"])
            rows = layer_timeseries(tr, px, FLAGSHIP_VARS)
        self._last = (docs, px, surv)
        return rows

    def check(self, i, rows):
        return self.info["docs"], "job", timeseries_digest(flagship_rows(rows))

    def probe(self, tr) -> None:
        self.probe_lineage(tr, *self._last)
        self.probe_text(tr)


class IngestNdvi(Workload):
    """Increments of the seeded geo table through run_resumable with an
    NDVI-only build; the base table is processed before timing."""
    name = "ingest_ndvi"

    @staticmethod
    def build(docs):
        _qi, px = get_s2_qi_and_data(docs, bands=INGEST_BANDS)
        return compute_vegetation_index(px, "ndvi")

    def table_path(self) -> str:
        return self.path("table")

    def out_dir(self) -> str:
        return self.path("out")

    def _copy_in(self, src: str) -> None:
        os.makedirs(self.table_path(), exist_ok=True)
        for f in sorted(os.listdir(src)):
            shutil.copyfile(os.path.join(src, f), os.path.join(
                self.table_path(), f"{os.path.basename(src)}-{f}"))

    def register(self) -> None:
        self.base = read_documents(self.spark, os.path.join(self.input_dir, "base"))

    def warm_up(self) -> None:
        d = self.path("warm")
        shutil.rmtree(d, ignore_errors=True)
        run_resumable(_slice(self.base), self.build,
                      os.path.join(d, "out"), os.path.join(d, "lineage"))
        shutil.rmtree(d, ignore_errors=True)

    def prime(self) -> None:
        self._copy_in(os.path.join(self.input_dir, "base"))
        run_resumable(read_documents(self.spark, self.table_path()), self.build,
                      self.out_dir(), self.lineage_dir())

    def n_jobs(self):
        return len(self.info["increment_docs"])

    def land(self, i: int) -> None:
        self._copy_in(os.path.join(self.input_dir, f"inc_{i:02d}"))

    def run(self, i):
        return run_resumable(read_documents(self.spark, self.table_path()),
                             self.build, self.out_dir(), self.lineage_dir())

    def run_traced(self, i, tr):
        with tr.span(f"job.{self.name}", new_trace=True):
            docs, _n = layer_read(tr, self.spark, self.table_path())
            todo, n = layer_resume(tr, docs, self.lineage_dir())
            qi = layer_qi(tr, todo)
            surv = layer_survivors(tr, qi, n)
            px = layer_decode(tr, todo, surv, INGEST_BANDS, ndvi_col=True)
            rid = layer_write(tr, px, self.out_dir(), self.lineage_dir(),
                              todo.select("doc_id"))
        self._last_px = px
        return rid, n

    def check(self, i, res):
        rid, n = res
        out = self.spark.read.parquet(self.out_dir()).filter(F.col("run_id") == rid)
        lin = self.spark.read.parquet(self.lineage_dir()).filter(F.col("run_id") == rid)
        return n, f"inc_{i:02d}", _sha(
            [n, _hash_agg(out, ["doc_id", "x", "y", F.round("ndvi", 6)]),
             _hash_agg(lin, ["doc_id", "n_rows"])])

    def probe(self, tr) -> None:
        layer_timeseries(tr, self._last_px, ["ndvi"])
        self.probe_text(tr)


class CorpusTrain(Workload):
    """train_data_pipeline over seeded word-shuffled corpus replicas."""
    name = "corpus_train"

    def table_path(self) -> str:
        return os.path.join(self.input_dir, "docs")

    def register(self) -> None:
        self.docs = read_documents(self.spark, self.table_path())

    def warm_up(self) -> None:
        out = train_data_pipeline(_slice(self.docs))
        _hash_agg(out, out.columns)

    def run(self, i):
        out = train_data_pipeline(self.docs)
        return _hash_agg(out, out.columns)

    def run_traced(self, i, tr):
        with tr.span(f"job.{self.name}", new_trace=True):
            docs, n = layer_read(tr, self.spark, self.table_path())
            return layer_corpus(tr, docs, n)

    def check(self, i, res):
        return self.info["docs"], "job", _sha(list(res))

    def probe(self, tr) -> None:
        docs, n = layer_read(tr, self.spark, os.path.join(self.probe_dir, "geo"))
        qi = layer_qi(tr, docs)
        surv = layer_survivors(tr, qi, n)
        px = layer_decode(tr, docs, surv, FLAGSHIP_BANDS, ["ndvi"], ["LAI"])
        layer_timeseries(tr, px, FLAGSHIP_VARS)
        self.probe_lineage(tr, docs, px, surv)


WORKLOADS = {w.name: w for w in (FlagshipLai, IngestNdvi, CorpusTrain)}
