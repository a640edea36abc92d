"""The four benchmark workloads.

Each workload drives ``semtools_spark`` only through its public entry
points and consumes every output column, by writing it as parquet inside
the timed region and checksumming it outside. An iteration returns one
:class:`Iteration`.

Every input is a pure function of ``seed``. A workload checks its own
outputs twice, both outside the timed region:

* ``checksums`` — an order-insensitive, ANSI-overflow-safe checksum over
  every output column (``sum(pmod(xxhash64(cols), 2^31))`` plus the row
  count), compared with the value recorded for the seed, and between the
  warm-up and the last timed iteration;
* ``reference_checks`` — references computed without the code under test
  (the generator's text, each chain's minimum id, a NumPy search).
"""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import os
import re
import shutil
import statistics
import time

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from semtools_spark import pipeline
from semtools_spark.embedding import HashEmbedder, embed_udf
from semtools_spark.operators import kg
from semtools_spark.operators.workspace import Workspace
from semtools_spark.sources.web_pages import VOCAB, make_page, write_web_pages

DIM = 64


@dataclasses.dataclass
class Iteration:
    """One timed iteration: its wall, the units of work it did, and the
    latencies of its write operations (the call that produces output) and
    read operations (calls that only read committed state)."""

    wall_s: float
    work: int
    write_s: list[float]
    read_s: list[float]
    extra: dict = dataclasses.field(default_factory=dict)
    #: CPU seconds of the Spark JVM and Python workers (set by the runner)
    cpu_s: float = 0.0

    @property
    def ops(self) -> int:
        return len(self.write_s) + len(self.read_s)


def checksum(df: DataFrame) -> list[int]:
    """[rows, sum(pmod(xxhash64(all columns), 2^31))] — order-insensitive,
    and the sum of 31-bit terms cannot overflow a long under ANSI mode."""
    r = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*df.columns), F.lit(1 << 31))).alias("h"),
    ).first()
    return [int(r["n"]), int(r["h"] or 0)]


def _explain(df: DataFrame) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


class Workload:
    name = ""
    #: every iteration must reproduce the warm-up's outputs
    repeatable = True
    #: the last iteration whose outputs are kept
    last = 0
    #: nominal wall of one iteration on a 4-core box (sets the count)
    ITER_S = 5.0

    def __init__(self, spark: SparkSession, seed: int, work: str, tracer=None):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.tracer = tracer

    def span(self, name: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.span(name)

    def out_dir(self, i: int) -> str:
        return os.path.join(self.work, f"out_{i}")

    def release(self, i: int) -> None:
        """Drop what iteration ``i`` left behind."""
        shutil.rmtree(self.out_dir(i), ignore_errors=True)

    def setup(self) -> None:
        raise NotImplementedError

    def iteration(self, i: int) -> Iteration:
        raise NotImplementedError

    def checksums(self, i: int) -> dict:
        raise NotImplementedError

    def reference_checks(self, i: int) -> dict[str, bool]:
        return {}

    def details(self, its: list[Iteration]) -> dict:
        return {}


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


class CrawlKG(Workload):
    """``run_webkg_pipeline`` over a seeded ``write_web_pages`` corpus from
    an empty out_dir, then reruns over the committed out_dir that must
    skip every stage. The iteration's wall covers the run and the reruns."""

    name = "crawl_kg"
    N_PAGES = 3_000
    RESUMES = 3
    ITER_S = 6.5

    def setup(self) -> None:
        self.pages = os.path.join(self.work, "pages.parquet")
        write_web_pages(self.spark, self.pages, self.N_PAGES, self.seed)
        self.resume_bad = 0

    def iteration(self, i: int) -> Iteration:
        out = self.out_dir(i)
        with self.span("pipeline.run"):
            report, wall = _timed(
                lambda: pipeline.run_webkg_pipeline(self.spark, self.pages, out)
            )
        resumes = []
        for _ in range(self.RESUMES):
            with self.span("pipeline.resume"):
                again, r_wall = _timed(
                    lambda: pipeline.run_webkg_pipeline(self.spark, self.pages, out)
                )
            resumes.append(r_wall)
            self.resume_bad += not all(s.get("skipped") for s in again["stages"].values())
        return Iteration(
            wall_s=wall + sum(resumes),
            work=self.N_PAGES,
            write_s=[wall],
            read_s=resumes,
            extra={"report": report},
        )

    def checksums(self, i: int) -> dict:
        out = self.out_dir(i)
        return {
            s: checksum(self.spark.read.parquet(f"{out}/{s}.parquet"))
            for s in pipeline.STAGES
        }

    def reference_checks(self, i: int) -> dict[str, bool]:
        """Every stage's output against a pure-Python run over the
        generator's pages. Triples only ever hold catalog names as
        mentions, so each mention must link to its own entity at distance
        0, and its component's minimum id (its canonical id) is that
        entity."""
        out = self.out_dir(i)
        read = lambda s: self.spark.read.parquet(f"{out}/{s}.parquet").toPandas()  # noqa: E731
        pages = self.spark.read.parquet(self.pages).select("url", "text").toPandas()
        parsed = read("parse")
        entity = {name: k for k, name in enumerate(kg.ENTITIES)}
        relations = set(kg.RELATIONS)
        want_triples = collections.Counter()
        for url, text in zip(pages["url"], pages["text"]):
            w = re.split(r"\s+", text) if text else []
            for j in range(len(w) - 2):
                if w[j + 1] in relations and w[j] in entity and w[j + 2] in entity:
                    want_triples[(url, j, w[j], w[j + 1], w[j + 2])] += 1
        mentions = {t[2] for t in want_triples} | {t[4] for t in want_triples}
        want_graph = collections.Counter()
        for (_url, _pos, s, p, o), n in want_triples.items():
            want_graph[(s, p, o, entity[s], entity[o])] += n
        link, canon, graph = read("link"), read("canon"), read("graph")
        rows = lambda df, cols: list(zip(*(df[c].tolist() for c in cols)))  # noqa: E731
        return {
            "parse_text_equals_generator": dict(zip(parsed["url"], parsed["text"]))
            == dict(zip(pages["url"], pages["text"]))
            and len(parsed) == len(pages),
            "triples_equal_reference": collections.Counter(
                rows(read("triples"), ("doc", "pos", "subj", "pred", "obj"))
            ) == want_triples,
            "link_equals_reference": len(link) == len(mentions)
            and all(
                m in mentions and e == entity[m] and abs(d) < 1e-6 and not r
                for m, e, d, r in rows(link, ("mention", "entity_id", "link_distance", "rescued"))
            ),
            "canon_equals_reference": sorted(rows(canon, ("mention", "entity_id", "canonical_id")))
            == sorted((m, entity[m], entity[m]) for m in mentions),
            "graph_equals_reference": dict(
                ((s, p, o, si, oi), n)
                for s, p, o, si, oi, n in rows(
                    graph, ("subj", "pred", "obj", "subj_id", "obj_id", "n_mentions")
                )
            ) == dict(want_graph)
            and len(graph) == len(want_graph),
            "resume_skips_every_stage": self.resume_bad == 0,
        }

    def details(self, its: list[Iteration]) -> dict:
        rep = its[-1].extra["report"]["stages"]
        return {
            "kg_pages_per_s": statistics.median(it.work / it.write_s[0] for it in its),
            "kg_resume_s": statistics.median(x for it in its for x in it.read_s),
            "stage_rows": {s: v["rows"] for s, v in rep.items()},
        }


class EntityResolve(Workload):
    """``kg.link_entities`` on the LSH path, then ``kg.canonicalize_mentions``,
    over a seeded catalog and mention stream (``bench.py``'s LSH shape, with
    about 10% perturbed surface forms)."""

    name = "entity_resolve"
    ITER_S = 6.5
    N_CATALOG = 2_000
    N_MENTION_SRC = 2_500
    WORDS = (
        "corp labs systems group inc holdings tech media works global "
        "north south atlas nova delta vertex orion helix quanta zephyr"
    ).split()
    SUFFIXES = ("ltd", "co", "plc", "gmbh")

    def _name(self, id_col) -> F.Column:
        words = F.array(*[F.lit(w) for w in self.WORDS])
        pick = lambda k: F.element_at(  # noqa: E731
            words, (F.pmod(F.xxhash64(id_col, F.lit(self.seed * 7 + k)), F.lit(len(self.WORDS))) + 1).cast("int")
        )
        return F.concat_ws(" ", F.lit("entity"), id_col.cast("string"), pick(1), pick(2))

    def setup(self) -> None:
        spark = self.spark
        self.catalog = (
            spark.range(self.N_CATALOG)
            .select(F.col("id").alias("entity_id"), self._name(F.col("id")).alias("name"))
            .withColumn("embedding", embed_udf(dim=DIM)(F.col("name")))
            .localCheckpoint()
        )
        cat_id = F.pmod(F.xxhash64(F.col("id"), F.lit(self.seed)), F.lit(self.N_CATALOG))
        roll = F.pmod(F.xxhash64(F.col("id"), F.lit(self.seed + 1)), F.lit(40))
        suffix = F.element_at(
            F.array(*[F.lit(s) for s in self.SUFFIXES]), (roll % len(self.SUFFIXES) + 1).cast("int")
        )
        name = self._name(cat_id)
        mention = F.when(roll < 4, F.concat_ws(" ", name, suffix)).otherwise(name)
        self.mentions = (
            spark.range(self.N_MENTION_SRC).select(mention.alias("mention")).localCheckpoint()
        )
        self.n_distinct = self.mentions.distinct().count()
        self.plan = None

    def _link(self) -> DataFrame:
        return kg.link_entities(
            self.mentions,
            self.catalog,
            dim=DIM,
            use_lsh_above=self.N_CATALOG // 2,
            catalog_size=self.N_CATALOG,
        )

    def iteration(self, i: int) -> Iteration:
        out = self.out_dir(i)

        def run():
            with self.span("kg.link"):
                linked = self._link()
                if self.plan is None:
                    self.plan = _explain(linked)
                linked.write.parquet(f"{out}/link.parquet")
                for b in getattr(linked, "_semtools_broadcasts", ()):
                    b.unpersist()
            with self.span("kg.canon"):
                kg.canonicalize_mentions(self.spark.read.parquet(f"{out}/link.parquet")).write.parquet(
                    f"{out}/canon.parquet"
                )

        _, wall = _timed(run)
        return Iteration(wall_s=wall, work=self.n_distinct, write_s=[wall], read_s=[])

    def checksums(self, i: int) -> dict:
        out = self.out_dir(i)
        return {s: checksum(self.spark.read.parquet(f"{out}/{s}.parquet")) for s in ("link", "canon")}

    def reference_checks(self, i: int) -> dict[str, bool]:
        linked = self.spark.read.parquet(f"{self.out_dir(i)}/link.parquet")
        # an exact catalog name must link to its own entity at distance 0
        exact = linked.join(
            self.catalog.select(F.col("name").alias("mention"), F.col("entity_id").alias("want")),
            "mention",
        )
        bad = exact.filter(
            (F.col("entity_id") != F.col("want")) | (F.col("link_distance") > 1e-6)
        ).count()
        plan = self.plan or ""
        return {
            "exact_names_link_to_themselves": bad == 0 and exact.count() > 0,
            "linked_every_distinct_mention": linked.count() == self.n_distinct,
            # the written plan really scores: unrolled cosine and rescue UDF
            "plan_has_cosine": "SQRT(" in plan.upper(),
            "plan_has_rescue_udf": "_link(" in plan,
        }

    def details(self, its: list[Iteration]) -> dict:
        rescued = (
            self.spark.read.parquet(f"{self.out_dir(self.last)}/link.parquet")
            .agg(F.count(F.lit(1)).alias("n"), F.sum(F.col("rescued").cast("long")).alias("r"))
            .first()
        )
        return {
            "link_mentions_per_s": statistics.median(it.work / it.wall_s for it in its),
            "kg.link.mentions": int(rescued["n"]),
            "kg.link.rescued": int(rescued["r"] or 0),
            "kg.link.rescue_rate": (rescued["r"] or 0) / max(1, rescued["n"]),
            "catalog": self.N_CATALOG,
        }


class CCChains(Workload):
    """``kg.connected_components(small_graph_threshold=0)`` — the
    distributed large-star/small-star rounds — over seeded per-label
    chains (the ``kg_components`` gate's shape)."""

    name = "cc_chains"
    ITER_S = 9.0
    N_NODES = 4_000
    N_LABELS = 32

    def setup(self) -> None:
        rng = np.random.default_rng([self.seed, 3])
        labels = rng.integers(0, self.N_LABELS, self.N_NODES)
        src, dst = [], []
        self.want = np.full(self.N_NODES, -1, dtype=np.int64)
        for lab in range(self.N_LABELS):
            ids = np.flatnonzero(labels == lab)
            src.append(ids[:-1])
            dst.append(ids[1:])
            if len(ids) > 1:
                self.want[ids] = ids.min()
        import pandas as pd

        edges = pd.DataFrame({"src": np.concatenate(src), "dst": np.concatenate(dst)})
        self.n_edges = len(edges)
        self.edges = os.path.join(self.work, "edges.parquet")
        self.spark.createDataFrame(edges).write.parquet(self.edges)

    def iteration(self, i: int) -> Iteration:
        out = self.out_dir(i)

        def run():
            with self.span("kg.cc"):
                kg.connected_components(
                    self.spark.read.parquet(self.edges), small_graph_threshold=0
                ).write.parquet(f"{out}/cc.parquet")

        _, wall = _timed(run)
        return Iteration(wall_s=wall, work=self.n_edges, write_s=[wall], read_s=[])

    def checksums(self, i: int) -> dict:
        return {"cc": checksum(self.spark.read.parquet(f"{self.out_dir(i)}/cc.parquet"))}

    def reference_checks(self, i: int) -> dict[str, bool]:
        got = self.spark.read.parquet(f"{self.out_dir(i)}/cc.parquet").toPandas()
        have = np.full(self.N_NODES, -1, dtype=np.int64)
        have[got["node"].to_numpy()] = got["component"].to_numpy()
        return {
            "labels_equal_chain_min": len(got) == int((self.want >= 0).sum())
            and bool(np.array_equal(have, self.want))
        }

    def details(self, its: list[Iteration]) -> dict:
        return {"cc_edges_per_s": statistics.median(it.work / it.wall_s for it in its)}


class WorkspaceChurn(Workload):
    """A ``Workspace`` loaded with the text of a seeded web-page corpus,
    keyed by url. Each round edits a seeded 1% of the documents and syncs
    (the write), then runs seeded queries, every other one with a
    ``doc_subset`` (the read). Work is queries answered; the wall is the
    whole round."""

    name = "workspace_churn"
    ITER_S = 12.5
    #: every round edits different documents, so outputs differ per round
    repeatable = False
    N_DOCS = 600
    EDIT_SHARE = 0.01
    QUERIES = 4
    SUBSET = 20
    TOP_K = 5

    def setup(self) -> None:
        # make_page is the generator's own page function; its text is what
        # the parse stage extracts (crawl_kg checks that invariant)
        pages = (make_page(i, self.seed) for i in range(self.N_DOCS))
        self.docs = {p["url"]: p["text"] for p in pages}
        self.mtime = dict.fromkeys(self.docs, 0)
        self.urls = sorted(self.docs)
        self.emb = HashEmbedder(dim=DIM, seed=self.seed)
        self._vec: dict[str, np.ndarray] = {}
        self.ws = Workspace(self.spark, os.path.join(self.work, "ws"), dim=DIM, seed=self.seed)
        self.ws.sync(self._docs_df(), id_col="url", text_col="text", mtime_col="mtime")
        self.search_bad = 0
        self.sync_bad = 0
        self.results: dict[int, list] = {}

    def _docs_df(self) -> DataFrame:
        rows = [(u, self.docs[u], self.mtime[u]) for u in self.urls]
        return self.spark.createDataFrame(rows, "url string, text string, mtime long")

    def release(self, i: int) -> None:
        self.results.pop(i, None)

    def _edit(self, rng, i: int) -> int:
        n = max(1, int(round(self.EDIT_SHARE * len(self.urls))))
        for u in rng.choice(self.urls, n, replace=False):
            lines = self.docs[u].split("\n")
            j = int(rng.integers(0, len(lines)))
            lines[j] = f"{lines[j]} {rng.choice(VOCAB)}".strip()
            self.docs[u] = "\n".join(lines)
            self.mtime[u] = i + 1
        return n

    def iteration(self, i: int) -> Iteration:
        rng = np.random.default_rng([self.seed, 11, i])
        n_edit = self._edit(rng, i)
        docs = self._docs_df()
        with self.span("workspace.sync"):
            counts, sync_s = _timed(
                lambda: self.ws.sync(docs, id_col="url", text_col="text", mtime_col="mtime")
            )
        if counts.get("changed", 0) != n_edit or counts.get("new", 0) != 0:
            self.sync_bad += 1
        lat, results = [], []
        for q in range(self.QUERIES):
            query = " ".join(rng.choice(VOCAB, 3))
            subset = sorted(rng.choice(self.urls, self.SUBSET, replace=False)) if q % 2 else None
            with self.span("workspace.search"):
                rows, s = _timed(
                    lambda: self.ws.search(query, top_k=self.TOP_K, doc_subset=subset).collect()
                )
            lat.append(s)
            got = [(r["doc"], r["line_no"], r["line"], r["distance"]) for r in rows]
            results.append(got)
            self.search_bad += not self._search_matches(query, subset, got)
        self.results[i] = results
        return Iteration(
            wall_s=sync_s + sum(lat),
            work=self.QUERIES,
            write_s=[sync_s],
            read_s=lat,
            extra={"edited": n_edit, "returned": sum(map(len, results))},
        )

    # -- NumPy reference over the driver-side mirror of the documents ----
    def _vector(self, line: str) -> np.ndarray:
        v = self._vec.get(line)
        if v is None:
            v = self._vec[line] = self.emb.embed_one(line).astype(np.float64)
        return v

    def _search_matches(self, query, subset, got) -> bool:
        q = self.emb.embed_one(query).astype(np.float64)
        qn = np.sqrt(q @ q)
        ref = {}
        for u in subset if subset is not None else self.urls:
            text = self.docs[u]
            if not text:
                continue
            for j, line in enumerate(text.split("\n")):
                v = self._vector(line)
                den = np.sqrt(v @ v) * qn
                ref[(u, j)] = (line, 1.0 - (v @ q) / den if den > 0 else 1.0)
        want = sorted(d for _line, d in ref.values())[: self.TOP_K]
        if len(got) != len(want):
            return False
        for (doc, line_no, line, dist), w in zip(got, want):
            r = ref.get((doc, line_no))
            if r is None or r[0] != line or abs(r[1] - dist) > 1e-9 or abs(dist - w) > 1e-9:
                return False
        return True

    def checksums(self, i: int) -> dict:
        flat = [
            (q, rank, *row) for q, rows in enumerate(self.results.get(i, ())) for rank, row in enumerate(rows)
        ]
        res = self.spark.createDataFrame(
            flat,
            T.StructType(
                [T.StructField("q", T.LongType()), T.StructField("rank", T.LongType())]
                + [T.StructField(c, t) for c, t in (
                    ("doc", T.StringType()), ("line_no", T.IntegerType()),
                    ("line", T.StringType()), ("distance", T.DoubleType()))]
            ),
        )
        return {
            "search": checksum(res),
            "lines": checksum(self.ws.lines()),
            "manifest": checksum(self.ws.manifest()),
        }

    def reference_checks(self, i: int) -> dict[str, bool]:
        stored = self.ws.lines().toPandas()
        want = {
            (u, j): line
            for u in self.urls
            if self.docs[u]
            for j, line in enumerate(self.docs[u].split("\n"))
        }
        got = dict(zip(zip(stored["doc"], stored["line_no"]), stored["line"]))
        sample = stored.iloc[:: max(1, len(stored) // 200)]
        emb_ok = all(
            np.array_equal(np.asarray(e, dtype=np.float32), self.emb.embed_one(line))
            for line, e in zip(sample["line"], sample["embedding"])
        )
        return {
            "search_topk_equals_numpy": self.search_bad == 0,
            "sync_counts_match_edits": self.sync_bad == 0,
            "lines_table_equals_documents": got == want and emb_ok,
        }

    def details(self, its: list[Iteration]) -> dict:
        lat = sorted(x for it in its for x in it.read_s)
        tail_p = None
        for p in (99.9, 99, 95, 90, 75, 50):
            if len(lat) * (1 - p / 100) >= 10:
                tail_p = p
                break
        out = {
            "ws_sync_s": statistics.median(it.write_s[0] for it in its),
            "ws_search_ms": 1000 * statistics.median(lat),
            "ws_search_samples": len(lat),
        }
        if tail_p is not None:
            out["ws_search_tail_percentile"] = tail_p
            out["ws_search_tail_ms"] = 1000 * float(np.percentile(lat, tail_p))
        return out


WORKLOADS = {w.name: w for w in (CrawlKG, EntityResolve, CCChains, WorkspaceChurn)}
