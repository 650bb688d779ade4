"""The benchmark's op groups, built from the engine's public surfaces:
registry queries (``spec.fn``), the container readers and extractors
in ``sources/*``, the dedup/graph operators and the ``Catalog`` dataset
store. The benchmark's two workloads each mix two groups (``MIXES``).

Each group is a list of :class:`Op`. An op's ``build`` returns the
DataFrame whose terminal action the benchmark times (``None`` when the
op does its own I/O, as the catalog steps do). Its result is checked
against the DuckDB ``oracle`` SQL over ``oracle_dir``, or, when the op
has none, against the committed row count and content hash in
``expected.json``.

Staging (``_build_*_landing`` fixture builders, ``*_payloads``
materialized to parquet) happens once in :meth:`Workload.stage`,
outside every timed pass.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the size switch in operators/dedup.py that dedup_graph straddles
EDGE_SWITCH = 100_000


@dataclass
class Op:
    name: str
    layer: str  # ROADMAP layer the op's own time is charged to
    build: Callable[[], DataFrame | None]
    oracle: str | None = None  # DuckDB SQL; None => expected.json
    oracle_dir: str | None = None
    # untimed: the result to verify (Spark or pandas), for ops whose
    # build returns None
    result: Callable[[], DataFrame | pd.DataFrame] | None = None
    # ops of a later phase read what earlier ops of their group wrote
    phase: int = 0
    # False: runs in the warm-up pass for its checked result only
    timed: bool = True
    group: str = ""  # the op group (below) the op belongs to

    @property
    def key(self) -> str:
        return f"{self.group}/{self.name}"


class Workload:
    """One op group, or a mix of groups run as one workload."""

    staging_bytes = 0
    # dataset-store groups: bytes their writes left on disk, and the
    # source bytes those writes came from
    bytes_written = 0
    user_bytes = 0

    def __init__(self, name: str, ops: list[Op] | None = None):
        self.name = name
        self.ops = ops or []

    def stage(self, spark: SparkSession) -> None:
        """Build inputs the timed passes read (untimed by pass_s)."""

    def reset(self) -> None:
        """Restore the state a pass starts from."""


def _summed(attr: str) -> property:
    return property(lambda self: sum(getattr(p, attr) for p in self.parts))


class Mix(Workload):
    def __init__(self, name: str, parts: list[Workload]):
        super().__init__(name)
        self.parts = parts
        self._label()

    def _label(self) -> None:
        for part in self.parts:
            for op in part.ops:
                op.group = part.name
        self.ops = [op for part in self.parts for op in part.ops]

    def stage(self, spark):
        for part in self.parts:
            part.stage(spark)
        self._label()

    def reset(self):
        for part in self.parts:
            part.reset()

    staging_bytes = _summed("staging_bytes")
    bytes_written = _summed("bytes_written")
    user_bytes = _summed("user_bytes")


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def _spec_op(reg: dict, spark, name: str, sf_dir: str, layer: str) -> Op:
    spec = reg[name]
    return Op(name, layer, lambda: spec.fn(spark, sf_dir), spec.oracle,
              sf_dir)


# --------------------------------------------------------------------
# mapreduce_sql: the paper's applications + relational shapes

MAPREDUCE_SQL = [
    "grep", "wordcount", "wine_filter_agg", "condorcet_round1",
    "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier_volume", "q17_small_quantity_revenue",
    "events_hourly", "range_join_clicks_before_purchase",
]


def mapreduce_sql(spark, reg, sf_dir: str, work: str,
                  stressed_dir: str | None) -> Workload:
    return Workload("mapreduce_sql", [
        _spec_op(reg, spark, n, sf_dir, "operators") for n in MAPREDUCE_SQL])


# --------------------------------------------------------------------
# container_decode: staged payloads, timed readers and extractors

EVENTS_DDL = ("event_id bigint, user_id bigint, event_type string, "
              "value double")
EVENTS_TS_DDL = ("event_id bigint, ts timestamp, user_id bigint, "
                 "event_type string, value double")
EVENT_COLS = ["event_id", "user_id", "event_type", "value"]
EVENT_TS_COLS = ["event_id", "ts", "user_id", "event_type", "value"]


class ContainerDecode(Workload):
    """Six record-container readers over landings the engine's own
    fixture builders write, and four document extractors over
    payload columns materialized to parquet. The oracle for each op is
    the registry query that wraps the same reader."""

    def __init__(self, spark, reg, sf_dir: str, work: str,
                 stressed_dir: str | None):
        super().__init__("container_decode")
        self.spark, self.reg, self.sf_dir, self.work = spark, reg, sf_dir, work
        self.landing: dict[str, str] = {}

    def stage(self, spark):
        from distributed_computing_projects_spark.queries import (
            ext_multimodal as MM,
            ext_pipeline as P,
        )
        from distributed_computing_projects_spark.sources import (
            docx as DX,
            pdf as PDF,
            warc as W,
            wikidump as WD,
        )
        from distributed_computing_projects_spark.sources.registry import (
            load_table,
        )

        sf = self.sf_dir
        builders = {
            "tfrecord": P._build_tfrecord_landing,
            "sqlite": P._build_sqlite_landing,
            "cbor": P._build_cbor_landing,
            "msgpack": P._build_msgpack_landing,
            "bson": P._build_bson_landing,
            "pbstream": P._build_pbstream_landing,
        }
        docs = load_table(spark, sf, "documents")
        eligible = docs.filter(F.expr(
            f"octet_length(encode(text, 'UTF-8')) >= {PDF.PDF_TEXT_BYTES}"))
        wrapped = docs.select("doc_id", F.expr(MM._wiki_wrap("spark"))
                              .alias("wiki"))
        payloads = {
            "pdf": PDF.pdf_payloads(eligible, "doc_id", "text"),
            "docx": DX.docx_payloads(docs.filter(F.length("text") >= 1),
                                     "doc_id", "text",
                                     para_chars=MM._DOCX_PARA),
            "warc_gz": W.warc_gz_payloads(docs, "doc_id", "text", "source"),
            "wikidump": WD.wikidump_payloads(wrapped, "doc_id", "wiki"),
        }

        def landing(fmt: str) -> str:
            return builders[fmt](spark, sf, f"bench_{fmt}")[1]

        def materialize(fmt: str) -> str:
            path = os.path.join(self.work, "payloads", f"{fmt}.parquet")
            payloads[fmt].write.mode("overwrite").parquet(path)
            return path

        # independent outputs: build them `cores` at a time
        with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
            jobs = {fmt: pool.submit(landing, fmt) for fmt in builders}
            jobs.update({fmt: pool.submit(materialize, fmt)
                         for fmt in payloads})
            self.landing = {fmt: job.result() for fmt, job in jobs.items()}
        self.staging_bytes = sum(_dir_bytes(p) for p in self.landing.values())
        self.ops = self._ops()

    def _ops(self) -> list[Op]:
        from distributed_computing_projects_spark.functions import (
            wikitext as WT,
        )
        from distributed_computing_projects_spark.sources import (
            bsonfile as BS,
            cborfile as CBOR,
            docx as DX,
            msgpackfile as MP,
            pbstream as PB,
            pdf as PDF,
            sqlitefile as SQ,
            tfrecord as TFR,
            warc as W,
            wikidump as WD,
        )

        spark, land = self.spark, self.landing
        payload = spark.read.parquet

        def wiki_text():
            pages = WD.extract_page_text(payload(land["wikidump"]))
            return pages.filter(F.col("ns") == 0).select(
                "id", "page_id",
                F.expr(WT.strip_wikitext("wikitext", "spark"))
                .alias("extracted"))

        readers: dict[str, tuple[str, Callable[[], DataFrame]]] = {
            "read_tfrecord": ("tfrecord_scan", lambda: TFR.read_tfrecord(
                spark, land["tfrecord"],
                "event_id bigint, user_id bigint, event_type string, "
                "value float").select(
                    *EVENT_COLS[:3], F.col("value").cast("double"))),
            "read_sqlite": ("sqlite_events_scan", lambda: SQ.read_sqlite(
                spark, land["sqlite"], "events", EVENTS_DDL)
                .select(*EVENT_COLS)),
            "read_cbor": ("cbor_events_scan", lambda: CBOR.read_cbor(
                spark, land["cbor"], EVENTS_TS_DDL).select(*EVENT_TS_COLS)),
            "read_msgpack": ("msgpack_events_scan", lambda: MP.read_msgpack(
                spark, land["msgpack"], EVENTS_TS_DDL)
                .select(*EVENT_TS_COLS)),
            "read_bson": ("bson_events_scan", lambda: BS.read_bson(
                spark, land["bson"], EVENTS_DDL).select(*EVENT_COLS)),
            "read_pbstream": ("pbstream_events_scan", lambda: PB.read_pbstream(
                spark, land["pbstream"], EVENTS_DDL,
                {"event_id": 1, "user_id": (2, "sint"), "event_type": 3,
                 "value": 4}).select(*EVENT_COLS)),
            "extract_pdf_text": ("pdf_extract_text",
                                 lambda: PDF.extract_pdf_text(
                                     payload(land["pdf"]))),
            "extract_docx": ("docx_extract_text",
                             lambda: DX.extract_docx(payload(land["docx"]))),
            "extract_responses": ("warc_gz_extract_responses",
                                  lambda: W.extract_responses(
                                      payload(land["warc_gz"]))),
            "extract_page_text": ("wikidump_plain_text", wiki_text),
        }
        return [Op(name, "decode", fn, self.reg[query].oracle, self.sf_dir)
                for name, (query, fn) in readers.items()]


# --------------------------------------------------------------------
# dedup_graph: iterative operators on both sides of MAX_DRIVER_EDGES

DEDUP_GRAPH = [
    "dedup_minhash_lsh", "dedup_clusters", "dedup_semantic",
    "graph_pagerank_topk", "knn_join_topk", "lm_perplexity_rank",
    "tfidf_top_terms",
]
# On the stressed corpus, dedup_clusters takes the distributed side of
# the edge switch; dedup_minhash_lsh there runs untimed, for the pair
# count that pins the side. Their DuckDB oracles are too slow to run
# per check at that size, so both are checked against expected.json.
STRESSED = "@stressed"


def dedup_graph(spark, reg, sf_dir: str, work: str,
                stressed_dir: str) -> Workload:
    ops = [_spec_op(reg, spark, n, sf_dir, "operators") for n in DEDUP_GRAPH]
    for n, timed in (("dedup_minhash_lsh", False), ("dedup_clusters", True)):
        ops.append(Op(n + STRESSED, "operators",
                      lambda fn=reg[n].fn: fn(spark, stressed_dir),
                      timed=timed))
    return Workload("dedup_graph", ops)


# --------------------------------------------------------------------
# maplejuice_store: the dataset store's lifecycle around a MapleJuice job

class MapleJuiceStore(Workload):
    """One pass = put lineitem and documents (parquet), ls + store,
    get + count, the registry's MapleJuice wordcount job over the
    stored documents whose output is put back (json), an overwrite put,
    and delete of every dataset — in a fresh ``Catalog`` root per pass.
    The documents dataset is named ``documents.parquet``, so the
    catalog root reads as a table directory to the registry job."""

    def __init__(self, spark, reg, sf_dir: str, work: str,
                 stressed_dir: str | None):
        super().__init__("maplejuice_store")
        from distributed_computing_projects_spark.catalog import Catalog
        from distributed_computing_projects_spark.sources.registry import (
            load_table,
        )

        self.root = os.path.join(work, "catalog")
        self.cat = Catalog(spark, self.root)
        self.user_bytes = sum(os.path.getsize(
            os.path.join(sf_dir, f"{t}.parquet"))
            for t in ("lineitem", "documents"))
        self.listing: list = []
        li = lambda: load_table(spark, sf_dir, "lineitem")  # noqa: E731
        docs = lambda: load_table(spark, sf_dir, "documents")  # noqa: E731
        cat = self.cat

        def put(name, df, fmt="parquet", mode="error"):
            dest = cat.put(name, df, mode=mode, fmt=fmt)
            self.bytes_written += _dir_bytes(dest)

        def ls_store():
            self.listing = [(n, len(cat.ls(n))) for n in cat.store()]

        wc = reg["maplejuice_wordcount"]

        def mj_put():
            put("wordcount", wc.fn(spark, self.root), fmt="json")

        def delete_all():
            for n in cat.store():
                cat.delete(n)

        self.ops = [
            Op("put_lineitem", "catalog.put",
               lambda: put("lineitem", li()),
               "SELECT count(*) AS n FROM lineitem", sf_dir,
               result=lambda: cat.get("lineitem").agg(
                   F.count("*").alias("n"))),
            Op("put_documents", "catalog.put",
               lambda: put("documents.parquet", docs()),
               "SELECT doc_id, text, lang, source, n_chars FROM documents",
               sf_dir, result=lambda: cat.get("documents.parquet")),
            Op("ls_store", "catalog.meta", ls_store, phase=1,
               result=lambda: pd.DataFrame(
                   [(n, int(k > 0)) for n, k in self.listing],
                   columns=["name", "has_files"])),
            Op("get_count", "catalog.get",
               lambda: cat.get("lineitem").agg(F.count("*").alias("n")),
               "SELECT count(*) AS n FROM lineitem", sf_dir, phase=2),
            Op("maplejuice_wordcount", "decode", mj_put, wc.oracle, sf_dir,
               result=lambda: cat.get("wordcount"), phase=2),
            Op("put_overwrite", "catalog.put",
               lambda: put("lineitem", li().filter(
                   F.col("l_returnflag") == "R"), mode="overwrite"),
               "SELECT count(*) AS n FROM lineitem WHERE l_returnflag = 'R'",
               sf_dir, result=lambda: cat.get("lineitem").agg(
                   F.count("*").alias("n")), phase=3),
            Op("delete", "catalog.meta", delete_all, phase=4,
               result=lambda: pd.DataFrame({"n_left": [len(cat.store())]})),
        ]

    def reset(self) -> None:
        """Fresh, empty catalog root before each pass."""
        import shutil

        shutil.rmtree(self.root, ignore_errors=True)
        os.makedirs(self.root)


GROUPS = {
    "mapreduce_sql": mapreduce_sql,
    "container_decode": ContainerDecode,
    "dedup_graph": dedup_graph,
    "maplejuice_store": MapleJuiceStore,
}
# The benchmark's workloads: two mixes that between them run every
# group. Each group also runs alone, for profiling one group.
MIXES = {
    "mapreduce_dedup": ["mapreduce_sql", "dedup_graph"],
    "decode_store": ["container_decode", "maplejuice_store"],
}
WORKLOADS = list(MIXES) + list(GROUPS)


def build(name: str, spark, reg, sf_dir: str, work: str,
          stressed_dir: str | None) -> Workload:
    groups = MIXES.get(name, [name])
    return Mix(name, [GROUPS[g](spark, reg, sf_dir, work, stressed_dir)
                      for g in groups])
