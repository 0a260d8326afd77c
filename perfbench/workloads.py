"""The benchmark's workloads.

Each workload builds its state in ``setup`` (called ``SETUPS`` times, each
time from scratch, so set-up time has a median) and then hands the runner
one round of operations at a time.  A round is a generator: the code
between two ``yield``s picks the next op's targets from the current state
and is not timed; only ``Op.run`` is timed; ``Op.check`` runs after it,
untimed, and returns ``None`` or the reason the result is wrong.

Why these workloads, the layers each loads and bypasses, and the metric
each layer should move are recorded in ``BENCHMARK.json``.
"""

from __future__ import annotations

import io
import json
import os
import random
import time
from collections import deque
from dataclasses import dataclass
from typing import Any, Callable, Iterator

import pyarrow as pa
import pyarrow.parquet as pq


@dataclass
class Op:
    kind: str
    group: str  # read | write | query | commit | stream
    run: Callable[[], Any]
    check: Callable[[Any], str | None]


def _registry():
    from mongraph_spark.queries import collect_suites, graph, graph_analytics
    from mongraph_spark.streaming import events as streaming_events

    return collect_suites(graph, graph_analytics, streaming_events)


# ---------------------------------------------------------------------------
# oltp_docgraph
# ---------------------------------------------------------------------------

CITIES = ["berlin", "lisbon", "osaka", "quito", "tunis", "oslo"]
PLACE_KINDS = ["bar", "pub", "park", "museum"]
READ_KINDS = [
    "all_relationships", "outgoing_relationships", "outgoing_where_document",
    "count_relationships", "shortest_path_to",
]
# remove_relationships_to runs a Spark job, the other writes are driver-side
# only: every round has it, plus one of the others in turn
ROTATING_WRITES = ["save", "update", "create_relationship_to", "remove"]


class OltpDocgraph:
    """The reference's own per-document surface on ``Mongraph`` and its
    ``MutableCatalog``: a closed loop of reads and writes over a few
    hundred seeded documents, every read checked against an adjacency
    model the benchmark keeps beside the catalog."""

    name = "oltp_docgraph"
    default_sf = 0.0  # generates its own documents
    ROUND_S = 20
    # a set-up takes 0.2 s, so five of them cost little and steady the median
    SETUPS = 5
    N_PEOPLE, N_PLACES, KNOWS_EACH = 240, 60, 2

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer) -> None:
        self.spark, self.seed, self.tracer = spark, seed, tracer
        self.layer_s: dict[str, list[float]] = {}  # timed set-up calls; none here
        self.view_builds = self.view_hits = 0
        self.view_build_s = 0.0
        self._views: dict[str, Any] = {}

    # -- state ---------------------------------------------------------------

    def setup(self, i: int) -> None:
        from mongraph_spark import Mongraph
        from mongraph_spark.schema import CollectionSchema, FieldSpec

        rng = random.Random(self.seed)
        eng = Mongraph(self.spark)
        eng.register_collection(
            CollectionSchema(
                name="people",
                fields={
                    "name": FieldSpec(type=str, graph=True),
                    "age": FieldSpec(type=int, graph=True, index=True),
                    "city": FieldSpec(type=str),
                },
            )
        )
        eng.register_collection(
            CollectionSchema(
                name="places",
                fields={"name": FieldSpec(type=str, graph=True), "kind": FieldSpec(type=str)},
            )
        )
        self.eng = eng
        self.docs: dict[str, Any] = {}  # _id -> Document, live documents only
        self.edges: dict[int, tuple[str, str, str]] = {}  # rel_id -> (src _id, dst _id, type)
        self._serial = 0
        people = [self._new_person(rng).save() for _ in range(self.N_PEOPLE)]
        places = [
            eng.create_document(
                "places", {"name": f"place{k}", "kind": rng.choice(PLACE_KINDS)}
            ).save()
            for k in range(self.N_PLACES)
        ]
        for d in people + places:
            self.docs[d._id] = d
        for p in people:
            for q in rng.sample(people, self.KNOWS_EACH + 1):
                if q is not p:
                    self._add_edge(p.create_relationship_to(q, "knows", {"w": rng.randint(1, 9)}))
            self._add_edge(p.create_relationship_to(rng.choice(places), "visits"))
        # the catalog ready to serve: its Spark views built over the load
        cat = eng.catalog
        self._views = {
            "nodes": cat.nodes_df(),
            "edges": cat.edges_df(),
            **{f"docs:{c}": cat.documents_df(c) for c in ("people", "places")},
        }

    def warm_up(self) -> None:
        """One untimed read: the session's first Spark job pays the JVM's
        class loading and compilation, which no later op pays again."""
        self.docs[self._people()[0]].all_relationships("*")

    def _new_person(self, rng: random.Random):
        self._serial += 1
        return self.eng.create_document(
            "people",
            {"name": f"person{self._serial}", "age": rng.randint(18, 80), "city": rng.choice(CITIES)},
        )

    def _add_edge(self, rel) -> None:
        self.edges[rel.id] = (rel.from_["_id"], rel.to["_id"], rel.type)

    def _people(self) -> list[str]:
        return sorted(i for i, d in self.docs.items() if d._collection == "people")

    def _expected(self, anchor: str, direction: str, types: set[str] | None) -> set[int]:
        out = set()
        for rid, (s, d, t) in self.edges.items():
            if types is not None and t not in types:
                continue
            if (direction in ("out", "both") and s == anchor) or (
                direction in ("in", "both") and d == anchor
            ):
                out.add(rid)
        return out

    def _hops(self, src: str) -> dict[str, int]:
        """Directed ``knows`` distances from ``src`` (the BFS the API runs)."""
        adj: dict[str, list[str]] = {}
        for s, d, t in self.edges.values():
            if t == "knows":
                adj.setdefault(s, []).append(d)
        dist, todo = {src: 0}, deque([src])
        while todo:
            u = todo.popleft()
            for v in adj.get(u, []):
                if v not in dist:
                    dist[v] = dist[u] + 1
                    todo.append(v)
        return dist

    # -- the catalog views, timed from outside (traced runs only) -------------

    def _touch_views(self) -> None:
        cat = self.eng.catalog
        calls = [("nodes", "nodes_df", cat.nodes_df), ("edges", "edges_df", cat.edges_df)] + [
            (f"docs:{c}", "documents_df", lambda c=c: cat.documents_df(c))
            for c in ("people", "places")
        ]
        for key, name, fn in calls:
            with self.tracer.span(f"catalog.{name}") as rec:
                df = fn()
            built = self._views.get(key) is not df
            self._views[key] = df
            rec["built"] = built
            if built:
                self.view_builds += 1
                self.view_build_s += rec["end"] - rec["start"]
            else:
                self.view_hits += 1

    def counters(self) -> dict[str, float]:
        return {
            "view_builds": self.view_builds,
            "view_hits": self.view_hits,
            "view_build_s": self.view_build_s,
        }

    def _read(self, kind: str, call: Callable[[], Any], check: Callable[[Any], str | None]) -> Op:
        def run():
            if self.tracer.enabled:
                self._touch_views()
            with self.tracer.span(f"session.{kind}"):
                return call()

        return Op(kind, "read", run, check)

    @staticmethod
    def _rel_ids(want: set[int]) -> Callable[[Any], str | None]:
        def check(rels) -> str | None:
            got = {r.id for r in rels}
            if got != want:
                return f"rel ids: {len(got)} returned, {len(want)} expected, {len(got ^ want)} differ"
            return None

        return check

    # -- ops -----------------------------------------------------------------

    def round(self, r: int) -> Iterator[Op]:
        # The order is fixed, so the same reads pay the view rebuilds that
        # follow each write; the seed picks the documents and values.
        rng = random.Random(f"{self.seed}:{r}")
        rotating = ROTATING_WRITES[(self.seed + r) % len(ROTATING_WRITES)]
        plan = READ_KINDS[:2] + ["remove_relationships_to"] + READ_KINDS[2:4] + [rotating]
        for kind in plan + READ_KINDS[4:]:
            yield self._op(kind, rng)

    def _op(self, kind: str, rng: random.Random) -> Op:
        people = self._people()
        p_id = rng.choice(people)
        p = self.docs[p_id]
        if kind == "all_relationships":
            want = self._expected(p_id, "both", None)
            return self._read(kind, lambda: p.all_relationships("*"), self._rel_ids(want))
        if kind == "outgoing_relationships":
            want = self._expected(p_id, "out", {"knows"})
            return self._read(kind, lambda: p.outgoing_relationships("knows"), self._rel_ids(want))
        if kind == "outgoing_where_document":
            age = rng.randint(30, 60)
            want = {
                rid
                for rid in self._expected(p_id, "out", None)
                if (self.docs[self.edges[rid][1]].data.get("age") or -1) >= age
            }
            opts = {"where": {"document": {"age": {"$gte": age}}}}
            return self._read(
                kind, lambda: p.outgoing_relationships("*", opts), self._rel_ids(want)
            )
        if kind == "count_relationships":
            want_n = len(self._expected(p_id, "both", None))
            return self._read(
                kind,
                lambda: p.query_relationships("*", {"count": "*"}),
                lambda n: None if n == want_n else f"count {n} != {want_n}",
            )
        if kind == "shortest_path_to":
            hops = self._hops(p_id)
            # a target two hops out: every path probe does the same BFS depth
            at = sorted(d for d, h in hops.items() if h == 2) or sorted(
                d for d, h in hops.items() if h >= 1
            )
            if not at:
                return self._op("all_relationships", rng)
            q_id = rng.choice(at)
            q, want_len = self.docs[q_id], hops[q_id] + 1
            return self._read(
                kind,
                lambda: p.shortest_path_to(q, "knows"),
                lambda docs: None
                if docs is not None and len(docs) == want_len
                else f"path of {None if docs is None else len(docs)} nodes, {want_len} expected",
            )
        return self._write(kind, rng, p_id, p, people)

    def _write(self, kind: str, rng: random.Random, p_id: str, p, people: list[str]) -> Op:
        def timed(call):
            def run():
                with self.tracer.span(f"session.{kind}"):
                    return call()

            return run

        if kind == "save":
            doc = self._new_person(rng)

            def check(saved) -> str | None:
                self.docs[saved._id] = saved
                if saved.get_node_id() is None or self.eng.find_document("people", saved._id) is None:
                    return "saved document has no node or is not findable"
                return None

            return Op(kind, "write", timed(doc.save), check)
        if kind == "update":
            age = rng.randint(18, 80)

            def check(doc) -> str | None:
                stored = self.eng.find_document("people", p_id)
                node = self.eng.catalog.get_node(p.get_node_id())
                if stored is None or stored.get("age") != age or node["props"].get("age") != age:
                    return "update not visible in document or node"
                return None

            return Op(kind, "write", timed(lambda: p.update({"age": age})), check)
        if kind == "create_relationship_to":
            q = self.docs[rng.choice([x for x in people if x != p_id])]

            def check(rel) -> str | None:
                self._add_edge(rel)
                if (rel.src, rel.dst) != (p.get_node_id(), q.get_node_id()):
                    return "relationship endpoints differ from the documents' nodes"
                return None

            return Op(kind, "write", timed(lambda: p.create_relationship_to(q, "knows")), check)
        if kind == "remove_relationships_to":
            knows = sorted(
                (s, d) for s, d, t in self.edges.values() if t == "knows" and s in self.docs
            )
            s_id, d_id = rng.choice(knows)
            src, dst = self.docs[s_id], self.docs[d_id]
            doomed = {
                rid for rid, e in self.edges.items() if e == (s_id, d_id, "knows")
            }

            def check(n) -> str | None:
                for rid in doomed:
                    del self.edges[rid]
                return None if n == len(doomed) else f"removed {n}, expected {len(doomed)}"

            return Op(
                kind, "write", timed(lambda: src.remove_relationships_to(dst, "knows")), check
            )
        if kind == "remove":

            def check(_) -> str | None:
                del self.docs[p_id]
                for rid in [r for r, (s, d, _t) in self.edges.items() if p_id in (s, d)]:
                    del self.edges[rid]
                if self.eng.find_document("people", p_id) is not None:
                    return "removed document still findable"
                return None

            return Op(kind, "write", timed(p.remove), check)
        raise ValueError(kind)

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------------
# bulk_pipeline
# ---------------------------------------------------------------------------

ORDER_COLS = [
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
]


class BulkPipeline:
    """The bulk side, read and write, over seeded TPC-H-ish tables.

    Reads: ``BulkGraph`` traversal, populate and BFS queries and the
    ``pregel.iterate`` loops over the derived TPC-H graph store.  Writes: a
    copy-on-write store lifecycle on ``orders`` driven through
    ``sources.merge``, and the MinHash-LSH pair kernel in a
    ``foreachBatch`` stream.  Set-up builds both stores from scratch, each time into
    a fresh directory.  Every query is checked against its DuckDB oracle;
    after every commit, untimed, the store's current rows are checked
    against a replay of the seeded batches, so a wrong commit is named."""

    name = "bulk_pipeline"
    default_sf = 0.001
    ROUND_S = 40
    SETUPS = 3
    QUERIES = [
        "populate_enrich", "g8_shortest_paths", "graph_cc_converged", "graph_kcore",
        "streaming_lsh_dedup",
    ]
    BUCKETS = 8
    UPSERT_ROWS, MERGE_ROWS, DELETE_SPAN = 40, 30, 20

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, tracer) -> None:
        from check import Oracle

        self.spark, self.data_dir, self.work_dir, self.seed, self.tracer = (
            spark, data_dir, work_dir, seed, tracer,
        )
        self.layer_s: dict[str, list[float]] = {}
        self.written_bytes = self.user_bytes = 0
        self.fpb_sum, self.fpb_n = 0.0, 0
        queries, oracles = _registry()
        self.queries = {n: queries[n] for n in self.QUERIES}
        self.oracle = Oracle(data_dir, {n: oracles[n] for n in self.QUERIES})
        self.orders_pdf = pq.read_table(os.path.join(data_dir, "orders.parquet")).to_pandas()
        self.schema = spark.read.parquet(os.path.join(data_dir, "orders.parquet")).schema

    def _timed_layer(self, name: str, call: Callable[[], Any]) -> None:
        t0 = time.perf_counter()
        with self.tracer.span(name):
            call()
        self.layer_s.setdefault(f"{name}_s", []).append(time.perf_counter() - t0)

    def setup(self, i: int) -> None:
        from mongraph_spark.graphs import tpch
        from mongraph_spark.sources import merge

        os.environ["MONGRAPH_GRAPH_CACHE"] = os.path.join(self.work_dir, f"graph_cache_{i}")
        self._timed_layer(
            "tpch.materialized_graph", lambda: tpch.materialized_graph(self.spark, self.data_dir)
        )
        self.root = os.path.join(self.work_dir, f"store_{i}")
        orders = self.spark.read.parquet(os.path.join(self.data_dir, "orders.parquet"))
        self._timed_layer(
            "merge.init_table",
            lambda: merge.init_table(orders, self.root, key="o_orderkey", n_buckets=self.BUCKETS),
        )
        self.model = self.orders_pdf.set_index("o_orderkey", drop=False).copy()
        self.next_key = int(self.model.index.max()) + 1

    def _query_op(self, name: str, group: str = "query") -> Op:
        fn = self.queries[name]
        return Op(
            name,
            group,
            lambda: fn(self.spark, self.data_dir).toPandas(),
            lambda pdf: self.oracle.mismatch(name, pdf),
        )

    # -- the store from outside: files and bytes a commit left on disk --------

    def _after_commit(self, version: str | None, user_bytes: int) -> None:
        if version is None:
            return
        vdir = os.path.join(self.root, version)
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, fs in os.walk(vdir)
            for f in fs
            if f.endswith(".parquet")
        )
        with open(os.path.join(vdir, "manifest.json")) as fh:
            manifest = json.load(fh)
        files = sum(
            sum(f.endswith(".parquet") for f in os.listdir(os.path.join(self.root, rel)))
            for rel in manifest.values()
        )
        self.fpb_sum += files / max(1, len(manifest))
        self.fpb_n += 1
        if user_bytes:
            self.written_bytes += written
            self.user_bytes += user_bytes

    def _batch(self, pdf):
        """Spark frame plus its size as one parquet file (the user's bytes)."""
        buf = io.BytesIO()
        pq.write_table(pa.Table.from_pandas(pdf[ORDER_COLS], preserve_index=False), buf)
        return self.spark.createDataFrame(pdf[ORDER_COLS], schema=self.schema), buf.tell()

    def _rows(self, rng: random.Random, n_old: int, n_new: int):
        keys = rng.sample(sorted(self.model.index), n_old)
        old = self.model.loc[keys].copy()
        old["o_totalprice"] = [round(rng.uniform(1000, 500000), 2) for _ in keys]
        old["o_orderstatus"] = [rng.choice("FOP") for _ in keys]
        new = self.orders_pdf.sample(n_new, random_state=rng.randint(0, 2**31)).copy()
        new["o_orderkey"] = range(self.next_key, self.next_key + n_new)
        self.next_key += n_new
        return old.reset_index(drop=True), new.reset_index(drop=True)

    def _commit_op(self, kind: str, call, apply_model, user_bytes: int) -> Op:
        def run():
            with self.tracer.span(f"merge.{kind}"):
                return call()

        def check(version) -> str | None:
            if isinstance(version, tuple):  # compact returns (version, buckets)
                version = version[0]
            apply_model()
            self._after_commit(version, user_bytes)
            return self._store_mismatch(self._store_pdf())

        return Op(kind, "commit", run, check)

    def _upsert(self, rng: random.Random) -> Op:
        import pandas as pd

        from mongraph_spark.sources import merge

        old, new = self._rows(rng, self.UPSERT_ROWS * 3 // 4, self.UPSERT_ROWS // 4)
        batch = pd.concat([old, new], ignore_index=True)
        df, nbytes = self._batch(batch)

        def apply_model():
            for row in batch.to_dict("records"):
                self.model.loc[row["o_orderkey"]] = row

        return self._commit_op(
            "upsert",
            lambda: merge.upsert(self.spark, self.root, df, key="o_orderkey"),
            apply_model,
            nbytes,
        )

    def _merge_into(self, rng: random.Random) -> Op:
        import pandas as pd

        from mongraph_spark.sources import merge

        old, new = self._rows(rng, self.MERGE_ROWS * 2 // 3, self.MERGE_ROWS // 3)
        src = pd.concat([old, new], ignore_index=True)
        df, nbytes = self._batch(src)

        def apply_model():
            for row in old.to_dict("records"):
                k = row["o_orderkey"]
                self.model.loc[k, "o_totalprice"] = self.model.loc[k, "o_totalprice"] + row["o_totalprice"]
                self.model.loc[k, "o_orderstatus"] = row["o_orderstatus"]
            for row in new.to_dict("records"):
                self.model.loc[row["o_orderkey"]] = row

        return self._commit_op(
            "merge_into",
            lambda: merge.merge_into(
                self.spark,
                self.root,
                df,
                when_matched_set={
                    "o_totalprice": "o_totalprice + src_o_totalprice",
                    "o_orderstatus": "src_o_orderstatus",
                },
            ),
            apply_model,
            nbytes,
        )

    def _delete_where(self, rng: random.Random) -> Op:
        from pyspark.sql import functions as F

        from mongraph_spark.sources import merge

        lo = rng.choice(sorted(self.model.index))
        hi = lo + self.DELETE_SPAN

        def apply_model():
            keep = (self.model.index < lo) | (self.model.index > hi)
            self.model = self.model[keep]

        return self._commit_op(
            "delete_where",
            lambda: merge.delete_where(
                self.spark, self.root, F.col("o_orderkey").between(lo, hi)
            ),
            apply_model,
            0,
        )

    def _compact(self) -> Op:
        from mongraph_spark.sources import merge

        return self._commit_op(
            "compact", lambda: merge.compact(self.spark, self.root), lambda: None, 0
        )

    def _store_pdf(self):
        from pyspark.sql import functions as F

        from mongraph_spark.sources import merge

        df = merge.read_current(self.spark, self.root)
        df = df.withColumn("o_orderdate", F.unix_micros(F.col("o_orderdate").cast("timestamp")))
        return df.select(*ORDER_COLS).toPandas()

    def _store_mismatch(self, pdf) -> str | None:
        """None when the store's current rows equal the replay of every
        batch committed so far, else the first difference."""
        want = self.model[ORDER_COLS].reset_index(drop=True)
        want["o_orderdate"] = want["o_orderdate"].astype("datetime64[us]").astype("int64")
        got = pdf.sort_values("o_orderkey").reset_index(drop=True)
        want = want.sort_values("o_orderkey").reset_index(drop=True)
        if len(got) != len(want):
            return f"store holds {len(got)} rows, replay holds {len(want)}"
        for c in ORDER_COLS:
            if not (got[c].to_numpy() == want[c].to_numpy()).all():
                return f"store column {c} differs from the replay"
        return None

    def _read_current(self) -> Op:
        def run():
            with self.tracer.span("merge.read_current"):
                return self._store_pdf()

        return Op("read_current", "read", run, self._store_mismatch)

    def counters(self) -> dict[str, float]:
        return {
            "written_bytes": self.written_bytes,
            "user_bytes": self.user_bytes,
            "fpb_sum": self.fpb_sum,
            "fpb_n": self.fpb_n,
        }

    def round(self, r: int) -> Iterator[Op]:
        rng = random.Random(f"{self.seed}:{r}")
        yield self._upsert(rng)
        yield self._query_op("populate_enrich")
        yield self._merge_into(rng)
        yield self._query_op("g8_shortest_paths")
        yield self._upsert(rng)
        yield self._query_op("graph_cc_converged")
        yield self._delete_where(rng)
        yield self._query_op("graph_kcore")
        yield self._compact()
        yield self._read_current()
        yield self._query_op("streaming_lsh_dedup", group="stream")

    def close(self) -> None:
        self.oracle.close()


WORKLOADS = {w.name: w for w in (OltpDocgraph, BulkPipeline)}
