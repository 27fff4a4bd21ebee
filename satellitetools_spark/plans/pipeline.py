"""End-to-end query plans — the engine's ``wrappers.get_s2_qi_and_data``.

Reference lifecycle (wrappers.py:28-78) re-expressed as one lazy Catalyst
plan with the reference's hand-rolled optimization kept explicit: the
*cheap-column-first two-phase scan* (aws.py:306-360) — decode only the SCL
band at QI scale, filter scenes on cloud statistics, and decode the full
band set only for survivors. Within each phase, band pruning happens on the
media_ref array filter before any shuffle, so the expensive full decode
touches only passing documents.

Plan shape (2 scans, 2 Python passes, document-cardinality shuffles only):

  scan → qi_percentages (fused SCL decode + per-doc A1 pre-agg, mapInPandas)
       → QI filter / intended dedup / tile mode  (KB-sized shuffles)
       → semi-join survivors back to documents
  scan → decode_documents (fused full decode + VI + SNAP NN, mapInPandas)
       → per-date statistics (one hash-agg)
"""

from __future__ import annotations

from typing import Iterable, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import S2_BANDS_10_20
from ..operators.quality import select_survivors
from ..operators.timeseries import dataset_to_timeseries
from ..sources.decode import decode_documents, qi_percentages

_SNAP_NAME = {"lai": "LAI", "fapar": "FAPAR", "fcover": "FCOVER",
              "lai_cab": "LAI_Cab", "lai_cw": "LAI_Cw"}
_VI_NAMES = ("ndvi", "ci_red_edge", "gcc")
_VI_BANDS = {"ndvi": ("B4", "B8A"), "ci_red_edge": ("B5", "B7"),
             "gcc": ("B2", "B3", "B4")}


def get_s2_qi_and_data(
    docs: DataFrame,
    bands: Optional[Iterable[str]] = None,
    qi_threshold: float = 0.02,
    vi_vars: Optional[Iterable[str]] = None,
    snap_vars: Optional[Iterable[str]] = None,
) -> Tuple[DataFrame, DataFrame]:
    """QI table + filtered long pixel table (reference wrappers.py:28-78).

    The QI pass decodes SCL at each document's AOI ``qi_evaluation_scale``
    and the pixel pass decodes ``bands`` at its ``target_gsd`` (both read
    from the AOI record in the document). ``vi_vars`` / ``snap_vars`` fuse
    index + NN computation into the decode pass (see sources/decode.py).
    """
    bands = list(bands) if bands is not None else S2_BANDS_10_20 + ["SCL"]

    # Phase 1 — quality scan: fused SCL decode + per-doc scene metadata +
    # class percentages (map-side pre-aggregation; document-cardinality
    # output). Materialized via LAZY localCheckpoint: the first job that
    # touches the subtree (normally the survivor-broadcast build inside the
    # pixels query) computes and stores it, and every later consumer — the
    # returned qi handle included — reuses the stored blocks, so the QI
    # decode runs exactly once however many branches reference it. Lazy
    # (vs eager) folds that single evaluation into the pixels job instead
    # of paying a separate blocking job barrier up front. Unlike .cache()
    # (which pins CacheManager storage until an explicit unpersist), the
    # checkpoint blocks are freed by the ContextCleaner once callers drop
    # the DataFrame — no session-lifetime storage leak per invocation. (On
    # a real cluster with executor loss, swap for .checkpoint() to a
    # reliable dir; the plan is identical.)
    qi = qi_percentages(docs).localCheckpoint(eager=False)

    # Phase 2 — filter scenes, then full decode of survivors only. The
    # survivor id list is document-cardinality metadata (bytes per doc), so
    # it is broadcast: the semi-join then never shuffles span payloads and
    # the phase-2 scan + decode stay one pipelined stage. (At 10^12-doc
    # scale drop the hint per job-partition sizing and AQE picks the
    # strategy — the plan is otherwise identical.)
    survivors = select_survivors(qi, qi_threshold)
    docs_f = docs.join(F.broadcast(survivors.select("doc_id")),
                       "doc_id", "left_semi")
    pixels = decode_documents(docs_f, bands, vi_vars=vi_vars,
                              snap_vars=snap_vars)
    return qi, pixels


def flagship_timeseries(
    docs: DataFrame,
    variables: Iterable[str] = ("ndvi", "lai"),
    median_accuracy: int | None = None,
) -> DataFrame:
    """The repo's core query: 'cloud-filtered per-date biophysical/VI
    timeseries for every AOI' — QI filter → decode fused with NDVI + SNAP
    LAI → per-date stats with uncertainty + 95% CI.

    ``median_accuracy=None`` keeps the reference-parity EXACT median
    (buffers each (aoi, date) group in one task — fine up to ~10^7
    pixels per group); the 100 TB profile sets it (e.g. 10000) to the
    mergeable ``percentile_approx`` sketch — see README "100 TB scale
    profile".
    """
    variables = [v.lower() for v in variables]
    vi_vars = [v for v in variables if v in _VI_NAMES]
    snap_vars = [_SNAP_NAME[v] for v in variables if v not in _VI_NAMES]
    # band pruning (projection pushdown through the decode): only the bands
    # the requested variables consume are decoded; SCL is not re-decoded in
    # phase 2 (the QI pass already consumed it).
    need = set()
    for v in vi_vars:
        need.update(_VI_BANDS[v])
    if snap_vars:
        from ..constants import SNAP_BIO_BANDS
        need.update(SNAP_BIO_BANDS)
    bands = [b for b in S2_BANDS_10_20 if b in need] or None
    _qi, pixels = get_s2_qi_and_data(
        docs, bands=bands, vi_vars=vi_vars,
        snap_vars=snap_vars)
    ts = dataset_to_timeseries(
        pixels, variables, add_uncertainty=True,
        add_confidence_intervals=True, confidence_level="95",
        median_accuracy=median_accuracy)
    return ts.orderBy("aoi", "time")
