"""The benchmark's workloads.

Each workload is a closed loop with one client: an op starts when the
previous one has returned. An op is either a *query* (its latency
counts toward ``op_p50_s``) or a *bulk* op that moves many rows (its
rows and time count toward ``bulk_rows_per_s``). A *pass* is one round
of the workload's ops in a seeded order; a run measures whole passes.

``sql_mix``       relational facets from ``queries.QUERIES`` (no Python
                  UDF in any plan) plus two bulk extracts through
                  ``SparkWarehouseEngine.load_df``; every result is
                  fetched with ``WarehouseFrame.as_arrow()`` and checked
                  against ``expected.json``.
``ingest_lookup`` rolling near-dedup ingest of seeded micro-batch files
                  through ``streaming.run_near_dedup_ingest`` (bulk),
                  each followed by lookups of held-out docs through
                  ``extensions.dedup.near_dup_pairs_against_index``
                  against ``plans.versioned.read_all_versions`` of the
                  growing index (query).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
from typing import NamedTuple

import pyarrow.parquet as pq

from checks import jaccard, shingles, signature

# many facets of similar cost, so that the median latency of a pass sits
# among several of them and does not jump between two far-apart ones
SQL_FACETS = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q7_nation_volume",
    "q8_market_share",
    "q10_returned_items",
    "q12_priority_class_by_status",
    "q13_order_count_distribution",
    "q14_promo_revenue_ratio",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q19_disjunctive_predicates",
    "q20_excess_supply_suppliers",
    "q21_waiting_suppliers",
    "q22_lapsed_customers",
    "top_customer_per_nation",
    "rollup_order_stats",
    "take_top2_per_order",
    "events_sessionization",
    "events_tumbling_15m",
    "events_sliding_30m_15m",
    "events_asof_last_signup",
    "events_funnel_stages",
    "events_cohort_retention",
)

# bulk extracts: (table, projected columns, filter in SQL both engines read)
EXTRACTS = {
    "extract_lineitem_1997_1998": (
        "lineitem",
        ["l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
         "l_extendedprice", "l_discount", "l_shipdate"],
        "l_shipdate >= TIMESTAMP '1997-01-01 00:00:00' "
        "AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00'",
    ),
    "extract_lineitem_returns": (
        "lineitem",
        ["l_orderkey", "l_linenumber", "l_extendedprice", "l_discount",
         "l_tax", "l_returnflag"],
        "l_returnflag = 'R'",
    ),
    "extract_orders_open": (
        "orders",
        ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
         "o_orderdate"],
        "o_orderstatus IN ('O', 'P')",
    ),
}

THRESHOLD = 0.7  # near-dup Jaccard threshold of the ingest and lookups
N_HELD_OUT = 500
# small micro-batches and two lookups a round, so that a run measures
# several rounds (about 4 s each, lookups included, on 4 cores): an
# ingest round costs about 2 s whether it holds 150 docs or 450
N_FILES = 30
LOOKUP_DOCS = 100  # large enough that nearly every lookup has LSH candidates
LOOKUPS_PER_ROUND = 2
# untimed warm rounds before measuring: op times fall by 10-20% over the
# first ~30 ops while the JIT compiles Spark's hot paths (a sql_mix pass
# alone is 29 ops)
WARM_ROUNDS = 2


class Op(NamedTuple):
    name: str
    kind: str  # "query" or "bulk"


def _digest(items) -> str:
    return hashlib.sha256(json.dumps(sorted(items)).encode()).hexdigest()[:16]


class SqlMix:
    name = "sql_mix"

    def __init__(self, spark, data_dir, seed, tracer, probe, expected):
        from fugue_warehouses_spark.engine import SparkWarehouseEngine

        self.spark, self.data_dir = spark, data_dir
        self.tracer, self.probe = tracer, probe
        self.expected = expected
        self.engine = SparkWarehouseEngine(spark)
        self.rng = random.Random(seed)
        self.ops = [Op(f, "query") for f in SQL_FACETS] + [
            Op(e, "bulk") for e in EXTRACTS
        ]

    def prepare(self) -> None:
        pass

    def warm_ops(self) -> list[Op]:
        return self.rng.sample(self.ops, len(self.ops))

    def passes(self):
        while True:
            yield self.rng.sample(self.ops, len(self.ops))

    def run(self, op: Op, rec: dict):
        """The timed part of an op: build the frame, fetch it."""
        from fugue_warehouses_spark.frame import WarehouseFrame
        from fugue_warehouses_spark.queries import QUERIES

        import pyspark.sql.functions as F

        with self.tracer.span("queries.build") as sp:
            if op.kind == "query":
                df = QUERIES[op.name](self.spark, self.data_dir)
            else:
                table, cols, pred = EXTRACTS[op.name]
                frame = self.engine.load_df(
                    os.path.join(self.data_dir, f"{table}.parquet"), columns=cols
                )
                df = frame.native.filter(F.expr(pred))
        if sp is not None:
            rec["build_s"] = sp.end - sp.start
            with self.tracer.charged():
                rec["build_end_job"] = self.probe.last_job_id()
            rec["_df"] = df
        with self.tracer.span("frame.fetch") as sp:
            table = WarehouseFrame(df).as_arrow()
        if sp is not None:
            rec["fetch_s"] = sp.end - sp.start
            rec["fetch_bytes"] = table.nbytes
        rec["rows"] = table.num_rows
        return df, table

    def check(self, op: Op, out) -> str | None:
        _df, table = out
        want = self.expected[op.name]
        if sorted(table.column_names) != want["columns"]:
            return f"columns {sorted(table.column_names)} != {want['columns']}"
        got = list(signature(table))
        if got != [want["n_rows"], want["sig"]]:
            return f"(n_rows, sig) {got} != {[want['n_rows'], want['sig']]}"
        return None

    def finish(self) -> list[tuple[str, str | None]]:
        return []

    def layer_state(self) -> dict:
        return {}


class IngestLookup:
    name = "ingest_lookup"

    def __init__(self, spark, data_dir, run_dir, seed, tracer, state_dir):
        self.spark, self.data_dir, self.tracer = spark, data_dir, tracer
        self.state_path = os.path.join(state_dir, f"ingest_lookup-seed{seed}.json")
        self.rng = random.Random(seed)
        self.feed = os.path.join(run_dir, "feed")
        self.staging = os.path.join(run_dir, "staging")
        self.index = os.path.join(run_dir, "index")
        self.bands = self.index + "_bands"  # run_near_dedup_ingest's default
        self.survivors = os.path.join(run_dir, "survivors")
        self.checkpoint = os.path.join(run_dir, "stream_checkpoint")
        self.next_file = 0
        self.n_lookups = 0
        self.digests: dict[str, str] = {}
        self.input_bytes = 0

    def prepare(self) -> None:
        """Seeded inputs: hold out docs for lookups, split the rest into
        micro-batch files. The program sees only these files."""
        docs = pq.read_table(
            os.path.join(self.data_dir, "documents.parquet"),
            columns=["doc_id", "text"],
        )
        ids = docs.column("doc_id").to_pylist()
        texts = docs.column("text").to_pylist()
        self.shingles = {i: shingles(t) for i, t in zip(ids, texts)}
        order = list(range(len(ids)))
        self.rng.shuffle(order)
        held, rest = order[:N_HELD_OUT], order[N_HELD_OUT:]
        os.makedirs(self.staging)
        os.makedirs(self.feed)
        self.files = []
        for k in range(N_FILES):
            part = sorted(rest[k::N_FILES])
            path = os.path.join(self.staging, f"batch-{k:03d}.parquet")
            pq.write_table(docs.take(part), path)
            self.files.append((path, len(part)))
        self.lookup_frames = []
        for k in range(N_HELD_OUT // LOOKUP_DOCS):
            part = sorted(held[k * LOOKUP_DOCS : (k + 1) * LOOKUP_DOCS])
            self.lookup_frames.append(
                self.spark.createDataFrame(docs.take(part).to_pandas())
            )

    def _round(self) -> list[Op]:
        return [Op("ingest_round", "bulk")] + [
            Op("lookup", "query") for _ in range(LOOKUPS_PER_ROUND)
        ]

    def warm_ops(self) -> list[Op]:
        return [op for _ in range(WARM_ROUNDS) for op in self._round()]

    def passes(self):
        while self.next_file < N_FILES:
            yield self._round()

    def run(self, op: Op, rec: dict):
        if op.kind == "bulk":
            return self._ingest(rec)
        return self._lookup(rec)

    def _ingest(self, rec: dict):
        from fugue_warehouses_spark.streaming import (
            read_parquet_stream,
            run_near_dedup_ingest,
        )

        path, n = self.files[self.next_file]
        dest = os.path.join(self.feed, os.path.basename(path))
        os.rename(path, dest)  # the batch "arrives"
        self.next_file += 1
        self.input_bytes += os.path.getsize(dest)
        with self.tracer.span("streaming.ingest_round"):
            run_near_dedup_ingest(
                read_parquet_stream(self.spark, self.feed, max_files_per_trigger=1),
                index_store=self.index,
                survivors_path=self.survivors,
                checkpoint_dir=self.checkpoint,
                threshold=THRESHOLD,
            )
        rec["rows"] = n
        return ("ingest", self.next_file - 1)

    def _lookup(self, rec: dict):
        from fugue_warehouses_spark.extensions.dedup import (
            near_dup_pairs_against_index,
        )
        from fugue_warehouses_spark.frame import WarehouseFrame
        from fugue_warehouses_spark.plans import versioned as V

        j = self.n_lookups
        self.n_lookups += 1
        query = self.lookup_frames[j % len(self.lookup_frames)]
        with self.tracer.span("versioned.read_all") as sp:
            idx = V.read_all_versions(self.spark, self.index)
            bands = V.read_all_versions(self.spark, self.bands)
        if sp is not None:
            rec["read_all_s"] = sp.end - sp.start
        with self.tracer.span("dedup.lookup") as sp:
            df = near_dup_pairs_against_index(
                query, idx, "doc_id", "text", threshold=THRESHOLD,
                index_bands_df=bands,
            )
            with self.tracer.span("frame.fetch") as fsp:
                table = WarehouseFrame(df).as_arrow()
        if sp is not None:
            rec["_df"] = df
            rec["lookup_s"] = sp.end - sp.start
            rec["fetch_s"] = fsp.end - fsp.start
            rec["fetch_bytes"] = table.nbytes
        rec["rows"] = table.num_rows
        rec["pairs"] = table.num_rows
        return ("lookup", j, table)

    def check(self, op: Op, out) -> str | None:
        if out[0] == "ingest":
            return None  # checked as a whole in finish()
        _, j, table = out
        pairs = list(
            zip(
                table.column("id_new").to_pylist(),
                table.column("id_match").to_pylist(),
                table.column("jaccard_sim").to_pylist(),
            )
        )
        for a, b, sim in pairs:
            exact = jaccard(self.shingles[a], self.shingles[b])
            if exact < THRESHOLD or abs(exact - sim) > 1e-6:
                return f"pair ({a}, {b}) reported {sim}, exact Jaccard {exact}"
        self.digests[f"lookup{j}"] = _digest([[a, b] for a, b, _ in pairs])
        return None

    def finish(self) -> list[tuple[str, str | None]]:
        """Invariants over the whole run, each one counted as a check."""
        from fugue_warehouses_spark.extensions.dedup import near_dup_pairs_minhash
        from fugue_warehouses_spark.plans import versioned as V

        survivors = self.spark.read.parquet(self.survivors)
        surv_ids = [r[0] for r in survivors.select("doc_id").collect()]
        out = []
        n_pairs = near_dup_pairs_minhash(
            survivors, "doc_id", "text", threshold=THRESHOLD
        ).count()
        out.append(
            ("survivors_near_dup_free",
             None if n_pairs == 0 else f"{n_pairs} near-dup pairs among survivors")
        )
        idx_ids = [
            r[0] for r in V.read_all_versions(self.spark, self.index)
            .select("doc_id").collect()
        ]
        out.append(
            ("index_equals_survivors",
             None if sorted(idx_ids) == sorted(surv_ids)
             else f"index holds {len(idx_ids)} ids, survivors {len(surv_ids)}")
        )
        out.append(
            ("survivors_unique",
             None if len(set(surv_ids)) == len(surv_ids)
             else f"{len(surv_ids) - len(set(surv_ids))} duplicated survivor ids")
        )
        self.digests[f"survivors_after{self.next_file}"] = _digest(surv_ids)
        out.append(("same_as_earlier_runs_of_seed", self._compare_state()))
        return out

    def _compare_state(self) -> str | None:
        """Survivor and pair sets must match every earlier run of this
        seed in this checkout, key by key."""
        try:
            with open(self.state_path) as f:
                seen = json.load(f)
        except FileNotFoundError:
            seen = {}
        diff = [k for k, v in self.digests.items() if k in seen and seen[k] != v]
        seen.update(self.digests)
        with open(self.state_path, "w") as f:
            json.dump(seen, f, indent=1, sort_keys=True)
        return f"differs from an earlier run: {diff}" if diff else None

    def layer_state(self) -> dict:
        """Store size at the end of the run (plans.versioned layer)."""
        from fugue_warehouses_spark.plans import versioned as V
        from tracing import dir_bytes

        stored = 0
        live = files = 0
        for store in (self.index, self.bands):
            live += len(V.list_versions(self.spark, store))
            f, b = dir_bytes(store)
            files += f
            stored += b
        stored += dir_bytes(self.survivors)[1]
        return {
            "versioned.live_versions": live,
            "versioned.files": files,
            "versioned.bytes": stored,
            "store.bytes_per_input_byte": stored / max(self.input_bytes, 1),
        }
