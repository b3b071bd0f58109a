"""One workload, run in-process against the engine's public surfaces.

Started by ``perfbench/run.py``, which samples this process tree's memory
from outside and prints the final result line:

  python3 -m perfbench.workload --workload W --seed N --seconds S \
      --trace 0|1 --work DIR --out FILE

Set-up: start the Spark session, write the seeded code corpus, build the
index (and copy it, for the ingest workloads), warm the read path. Then a
closed loop with one client runs a fixed number of whole request cycles,
sized to take about ``--seconds`` on a 4-core host; every answer is
checked against the brute-force oracle. With ``--trace 1`` every write
and every other read runs with spans recorded around the calls into each
engine module; the reads in between give the untraced latency the
tracing overhead is measured against.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import shutil
import sys
import time
import traceback

from perfbench import reqgen
from perfbench.check import Oracle, compare
from perfbench.stats import percentile, self_times
from perfbench.tracing import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORPUS_ROWS = 1000
ADD_ROWS = 100
KEY_COLS = ["repo", "path", "commit"]
CORPUS_SCHEMA = (
    "repo string, path string, commit string, lang string, content string"
)
# seconds one cycle of each workload takes on a 4-core host (2.1 GHz):
# a run makes round(--seconds / CYCLE_S) cycles, at least one, so every
# run of a workload does the same work whatever the host's speed
CYCLE_S = {"search_selective": 3.0, "search_broad": 4.0,
           "ingest_mixed": 12.0, "ingest_access": 13.0}
READ_KINDS = ("search_objects", "search_types", "topk")
# read-only cycles run in set-up before the loop: the first cycle pays
# for JIT compilation and Python worker start-up
WARM_CYCLES = 1


def code_digest() -> str:
    """md5 over the engine package and this benchmark's sources, the
    scheme bench.py's ``_code_key`` uses."""
    paths = []
    for top in ("kbasesearchengine_spark", "perfbench"):
        for root, _dirs, files in os.walk(os.path.join(ROOT, top)):
            paths += [os.path.join(root, f) for f in files if f.endswith(".py")]
    h = hashlib.md5()
    for p in sorted(paths):
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def data_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksums and markers excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files if not f.startswith((".", "_"))
        )
    return total


def read_docs(index_dir: str, min_segment: int = 0) -> list[tuple]:
    """(doc_id, content, lang) of the indexed documents."""
    import pyarrow.dataset as pads

    tbl = pads.dataset(
        os.path.join(index_dir, "docs"), format="parquet", partitioning="hive"
    ).to_table(
        columns=["doc_id", "content", "lang"],
        filter=pads.field("segment") >= min_segment,
    )
    return list(zip(*(tbl.column(c).to_pylist()
                      for c in ("doc_id", "content", "lang"))))


def job_tasks(sc, group: str | None) -> tuple[set[int], int]:
    """Spark job ids of a job group (None = jobs outside any group) and
    the number of tasks those jobs completed."""
    tracker = sc.statusTracker()
    jobs = set(tracker.getJobIdsForGroup(group))
    tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        for s in (info.stageIds if info else ()):
            st = tracker.getStageInfo(s)
            tasks += st.numCompletedTasks if st else 0
    return jobs, tasks


class Bench:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.trace = bool(args.trace)
        self.layer: dict[str, float] = {}
        self.records: list[dict] = []
        self.failures: list[str] = []

    # -------------------------------------------------------------- set-up
    def setup(self) -> None:
        cpus = int(os.environ["SPARK_GRAFT_CPUS"])
        t0 = time.perf_counter()
        from kbasesearchengine_spark.session import get_spark

        self.spark = get_spark(
            "perfbench", cores=cpus, shuffle_partitions=cpus,
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # a fixed-size heap: resident memory does not depend on
                # when the collector chose to grow it; no perf-data file
                # in /tmp: the run writes only inside its checkout
                "spark.driver.extraJavaOptions":
                    f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}",
            },
        )
        self.sc = self.spark.sparkContext
        t1 = time.perf_counter()
        from kbasesearchengine_spark.corpus import generate_corpus
        from kbasesearchengine_spark.operators.indexer import IndexBuilder

        corpus_dir = os.path.join(self.work, "corpus")
        generate_corpus(self.spark, CORPUS_ROWS, parallelism=cpus).write.parquet(
            corpus_dir
        )
        t2 = time.perf_counter()
        base = os.path.join(self.work, "base")
        jobs_before, _ = job_tasks(self.sc, None)
        IndexBuilder(self.spark, base, num_segments=cpus,
                     segments_per_commit=cpus).build(
            self.spark.read.parquet(corpus_dir), KEY_COLS, resume=False
        )
        t3 = time.perf_counter()
        self.index_dir = base
        if self.args.workload.startswith("ingest"):
            self.index_dir = os.path.join(self.work, "live")
            shutil.copytree(base, self.index_dir)
        t4 = time.perf_counter()
        self.layer.update({
            "session.start_s": t1 - t0,
            "corpus.generate_s": t2 - t1,
            "indexer.build_s": t3 - t2,
        })
        self._build_layers(base, jobs_before)

        from kbasesearchengine_spark.api import RpcService
        from kbasesearchengine_spark.operators.topk import InvertedIndex

        self.index = InvertedIndex(self.spark, self.index_dir)
        self.svc = RpcService(self.index, groups_for=lambda user: [reqgen.GROUP])

        # oracle and requests: benchmark work, kept out of setup_s
        t5 = time.perf_counter()
        rows = read_docs(self.index_dir)
        if len(rows) != CORPUS_ROWS:
            raise RuntimeError(f"index holds {len(rows)} docs, corpus {CORPUS_ROWS}")
        self.input_bytes = sum(len(c.encode()) for _, c, _ in rows)
        self.oracle = Oracle(rows)
        bands = reqgen.df_bands(self.oracle.idx.df, CORPUS_ROWS)
        langs = sorted(set(self.oracle.lang.values()))

        def fits(query, count):
            return len(self.oracle.matches(query, "and")) <= count

        def cycles(seed, n):
            return reqgen.make_cycles(
                self.args.workload, seed, bands, n, langs=langs,
                base_rows=CORPUS_ROWS, add_rows=ADD_ROWS, fits=fits,
            )

        self.cycles = cycles(self.args.seed, max(
            1, round(self.args.seconds / CYCLE_S[self.args.workload])))
        warm = cycles(self.args.seed + 1_000_003, WARM_CYCLES)
        oracle_s = time.perf_counter() - t5

        t6 = time.perf_counter()
        for req in (r for c in warm for r in c):
            if req["kind"] in READ_KINDS:
                self.execute(req)
        t7 = time.perf_counter()
        self.setup_s = (t4 - t0) + (t7 - t6)
        self.oracle_s = oracle_s

    def _build_layers(self, base: str, jobs_before: set[int]) -> None:
        lineage = os.path.join(base, "_lineage")

        def marker(name):
            with open(os.path.join(lineage, name)) as f:
                return json.load(f)

        groups = [marker(f) for f in os.listdir(lineage)
                  if f.startswith("group-") and f.endswith(".json")]
        self.layer.update({
            "indexer.docs_s": marker("docs.json")["seconds"],
            # posting groups commit concurrently: the phase lasts as long
            # as its slowest group
            "indexer.postings_s": max(g["seconds"] for g in groups),
            "indexer.terms_s": marker("terms.json")["seconds"],
            "indexer.postings_rows": sum(g["rows"] for g in groups),
            "index.docs_bytes": data_bytes(os.path.join(base, "docs")),
            "index.postings_bytes": data_bytes(os.path.join(base, "postings")),
            "index.terms_bytes": data_bytes(os.path.join(base, "terms")),
        })
        if self.trace:
            time.sleep(0.5)  # let the listener bus record the last jobs
            jobs_after, _ = job_tasks(self.sc, None)
            self.layer["indexer.spark_jobs"] = len(jobs_after - jobs_before)

    # -------------------------------------------------------- one request
    def corpus_rows(self, lo: int, hi: int):
        """Rows lo..hi-1 of the prefix-stable generated corpus."""
        from kbasesearchengine_spark import corpus

        def gen(batches):
            for pdf in batches:
                yield corpus._gen_rows(pdf["id"].to_numpy())

        return self.spark.range(
            lo, hi, 1, int(os.environ["SPARK_GRAFT_CPUS"])
        ).mapInPandas(gen, schema=CORPUS_SCHEMA)

    def execute(self, req: dict):
        """Run one request through the engine's public surface."""
        from kbasesearchengine_spark.operators import indexer, mutate, topk

        kind = req["kind"]
        if kind in ("search_objects", "search_types"):
            return self.svc.handle(
                {"version": "1.1", "id": "perfbench",
                 "method": f"KBaseSearchEngine.{kind}",
                 "params": [req["params"]]},
                user=reqgen.USER,
            )
        if kind == "topk":
            rows = topk.topk(self.index, req["query"], k=req["k"],
                             mode=req["mode"], hydrate=True).collect()
            return [(int(r["doc_id"]), float(r["score"])) for r in rows]
        if kind == "add":
            lo, hi = req["rows"]
            out = indexer.add_documents(
                self.spark, self.index_dir, self.corpus_rows(lo, hi),
                KEY_COLS, batch_id=req["batch_id"],
            )
            self.index.refresh()
            self.new_segment = out["first_segment"]
            return out
        if kind == "share":
            from pyspark.sql import functions as F

            out = mutate.share_with_group(
                self.spark, self.index_dir,
                F.col("segment") >= self.new_segment, req["group"],
            )
            self.index.refresh()
            return out
        raise ValueError(f"unknown request kind {kind!r}")

    def verify(self, req: dict, got) -> str | None:
        """Check one answer (and fold writes into the oracle)."""
        kind = req["kind"]
        if kind == "add":
            lo, hi = req["rows"]
            rows = read_docs(self.index_dir, got["first_segment"])
            self.oracle.extend(rows)
            self.new_docs = [d for d, _, _ in rows]
            if got["added"] != hi - lo or len(rows) != hi - lo:
                return f"added {got['added']} ({len(rows)} read back), want {hi - lo}"
            return None
        if kind == "share":
            self.oracle.shared.update(self.new_docs)
            if got["updated_rows"] != len(self.new_docs):
                return (f"share updated {got['updated_rows']} rows, want "
                        f"{len(self.new_docs)}")
            return None
        return compare(req, self.oracle.expect(req), got)

    # ----------------------------------------------------------- the loop
    def run(self) -> None:
        tracer = Tracer() if self.trace else None
        rid = 0
        for cycle in self.cycles:
            for req in cycle:
                rid += 1
                traced = tracer is not None and (
                    req["kind"] not in READ_KINDS or rid % 2 == 1)
                if traced:
                    self._patch(tracer)
                rec = {"rid": rid, "req": req, "kind": req["kind"],
                       "traced": traced,
                       "df_sum": reqgen.df_sum(req, self.oracle.idx.df)
                       if "query" in req else 0}
                size_before = (data_bytes(self.index_dir)
                               if req["kind"] == "add" else 0)
                got = err = None
                if traced:
                    tracer.request = rid
                    self.sc.setJobGroup(f"perfbench-{rid}", req["kind"])
                root = (tracer.span("request", req["kind"]) if traced
                        else contextlib.nullcontext())
                t0 = time.perf_counter()
                try:
                    with root:
                        got = self.execute(req)
                except Exception:  # noqa: BLE001 — counted and reported
                    err = traceback.format_exc()
                rec["latency"] = time.perf_counter() - t0
                if traced:
                    tracer.request = None
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                if err is None:
                    rec["error_envelope"] = isinstance(got, dict) and "error" in got
                    err = self.verify(req, got)
                    if req["kind"] == "add":
                        rec["add_bytes"] = data_bytes(self.index_dir) - size_before
                    if req["kind"] == "share":
                        rec["rows_updated"] = got["updated_rows"]
                        rec["segments_rewritten"] = len(got["updated_segments"])
                    if traced:
                        rec.update(self._replay_wand(req))
                if err is not None:
                    rec["failed"] = True
                    self.failures.append(f"request {rid} ({req['kind']}): {err}")
                    print(self.failures[-1], file=sys.stderr)
                self.records.append(rec)
                if traced:
                    tracer.unpatch()
        self.tracer = tracer

    def _patch(self, tracer: Tracer) -> None:
        from kbasesearchengine_spark.api import rpc
        from kbasesearchengine_spark.operators import indexer, mutate, topk
        from kbasesearchengine_spark.plans import search

        df_cls = type(self.spark.range(1))
        writer_cls = type(self.spark.range(1).write)
        targets = [
            (rpc.RpcService, "handle", "rpc"),
            (rpc, "search_objects", "search"),
            (rpc, "search_types", "search"),
            (rpc, "match_frame", "search"),
            (rpc, "_apply_post", "search"),
            (search, "topk", "topk"),
            (topk, "topk", "topk"),
            (topk.InvertedIndex, "term_dfs", "term_dfs"),
            (topk.InvertedIndex, "refresh", "index"),
            (indexer, "add_documents", "indexer"),
            (mutate, "share_with_group", "mutate"),
            (mutate, "update_docs_fields", "mutate"),
            (writer_cls, "parquet", "spark"),
        ] + [(df_cls, m, "spark")
             for m in ("collect", "count", "toPandas", "take", "head", "first")]
        for owner, attr, layer in targets:
            tracer.patch(owner, attr, layer)

    def _replay_wand(self, req: dict) -> dict:
        """Driver-side replay of the per-segment WAND / skip-list kernel
        over the query's postings read with pyarrow: kernel time and bytes
        decoded, for scored requests."""
        kind = req["kind"]
        relevance = kind == "search_objects" and req["params"].get("sorting_rules")
        if kind != "topk" and not relevance:
            return {}
        import pyarrow.dataset as pads

        from kbasesearchengine_spark.functions.bm25 import idf
        from kbasesearchengine_spark.functions.hashing import term_hash
        from kbasesearchengine_spark.functions.tokenize import tokenize_py
        from kbasesearchengine_spark.operators import wand

        o = self.oracle.idx
        terms = sorted(set(tokenize_py(req["query"])))
        if req["mode"] == "and" and any(o.df.get(t, 0) == 0 for t in terms):
            return {}
        idfs = {term_hash(t): float(idf(o.df[t], o.n_docs))
                for t in terms if o.df.get(t, 0)}
        if kind == "topk":
            k = req["k"]
        else:
            pag = req["params"]["pagination"]
            k = pag["start"] + pag["count"]
        pdf = pads.dataset(
            os.path.join(self.index_dir, "postings"), format="parquet",
            partitioning="hive",
        ).to_table(filter=pads.field("term_hash").isin(list(idfs))).to_pandas()
        stats = {"decoded_bytes": 0, "total_bytes": 0,
                 "decoded_blocks": 0, "total_blocks": 0}
        t0 = time.perf_counter()
        for _seg, part in pdf.groupby("segment"):
            if req["mode"] == "and":
                if set(part["term_hash"]) == set(idfs):
                    wand.and_topk_segment(part, idfs, o.avgdl, k, stats=stats)
            else:
                wand.wand_topk_segment(part, idfs, o.avgdl, k, stats=stats)
        return {"wand_s": time.perf_counter() - t0,
                "wand_decoded": stats["decoded_bytes"],
                "wand_total": stats["total_bytes"]}

    # ------------------------------------------------------------- results
    def metrics(self) -> dict:
        reads = [r for r in self.records if r["kind"] in READ_KINDS]
        if not self.trace:
            lat = [r["latency"] for r in reads]
            return {
                "setup_s": (self.setup_s, "s"),
                "index_bytes_per_input_byte": (
                    (self.layer["index.docs_bytes"]
                     + self.layer["index.postings_bytes"]
                     + self.layer["index.terms_bytes"]) / self.input_bytes,
                    "ratio"),
                "query_p50_ms": (1000 * percentile(lat, 50), "ms"),
                "queries_per_s": (len(lat) / sum(lat), "1/s"),
            }
        return self._layer_metrics(reads)

    def workload_metrics(self) -> dict:
        """Figures printed with the provenance: the failure fraction with
        its base, the write latencies (ingest workloads), and the reads'
        90th percentile, which has fewer than ten reads beyond it."""
        failed = sum(1 for r in self.records if r.get("failed"))
        lat = [r["latency"] for r in self.records if r["kind"] in READ_KINDS]
        out = {"failed_frac": {"value": failed / len(self.records),
                               "unit": "ratio", "failed": failed,
                               "attempted": len(self.records)},
               "query_p90_ms": {"value": 1000 * percentile(lat, 90),
                                "unit": "ms", "samples": len(lat)}}
        for kind, name in (("add", "add_p50_ms"), ("share", "mutate_p50_ms")):
            lat = [r["latency"] for r in self.records if r["kind"] == kind]
            if lat:
                out[name] = {"value": 1000 * percentile(lat, 50), "unit": "ms",
                             "samples": len(lat)}
        return out

    def _layer_metrics(self, reads: list[dict]) -> dict:
        time.sleep(0.5)  # let the listener bus record the last jobs
        spans = [s for s in self.tracer.spans if s["end"] is not None]
        own = self_times(spans)
        traced = [r for r in self.records if r["traced"]]
        by_req: dict[int, list[dict]] = {}
        for s in spans:
            by_req.setdefault(s["req"], []).append(s)
        for r in traced:
            jobs, tasks = job_tasks(self.sc, f"perfbench-{r['rid']}")
            r["jobs"], r["tasks"] = len(jobs), tasks

        def mean(xs):
            xs = list(xs)
            return sum(xs) / len(xs) if xs else 0.0

        def self_ms(layer, recs):
            ids = {r["rid"] for r in recs}
            total = sum(own[s["id"]] for s in spans
                        if s["layer"] == layer and s["req"] in ids)
            return 1000 * total / len(recs) if recs else 0.0

        def span_s(layer, name, recs):
            return mean(
                s["end"] - s["start"] for r in recs
                for s in by_req.get(r["rid"], ())
                if s["layer"] == layer and s["name"] == name
            )

        t_reads = [r for r in traced if r["kind"] in READ_KINDS]
        t_rpc = [r for r in t_reads if r["kind"] != "topk"]
        adds = [r for r in traced if r["kind"] == "add"]
        shares = [r for r in traced if r["kind"] == "share"]
        first_pages = [
            r for r in t_rpc if r["kind"] == "search_objects"
            and r["req"]["params"]["pagination"]["start"] == 0
        ]
        replayed = [r for r in t_reads if "wand_s" in r]
        roots = [s for s in spans if s["layer"] == "request"]
        untraced = [r["latency"] for r in reads if not r["traced"]]
        m = {k: (v, "s") for k, v in self.layer.items() if k.endswith("_s")}
        m.update({
            "indexer.spark_jobs": (self.layer["indexer.spark_jobs"], "count"),
            "indexer.postings_rows": (self.layer["indexer.postings_rows"], "count"),
            "index.docs_bytes": (self.layer["index.docs_bytes"], "B"),
            "index.postings_bytes": (self.layer["index.postings_bytes"], "B"),
            "index.terms_bytes": (self.layer["index.terms_bytes"], "B"),
            "index.segments": (len([
                e for e in os.listdir(os.path.join(self.index_dir, "postings"))
                if e.startswith("segment=")]), "count"),
            "indexer.add_s": (span_s("indexer", "add_documents", adds), "s"),
            "indexer.add_spark_jobs": (mean(r["jobs"] for r in adds), "count"),
            "indexer.add_bytes": (mean(r["add_bytes"] for r in self.records
                                       if "add_bytes" in r), "B"),
            "mutate.share_s": (span_s("mutate", "share_with_group", shares), "s"),
            "mutate.rows_updated": (mean(r["rows_updated"] for r in self.records
                                         if "rows_updated" in r), "count"),
            "mutate.segments_rewritten": (mean(
                r["segments_rewritten"] for r in self.records
                if "segments_rewritten" in r), "count"),
            "mutate.spark_jobs": (mean(r["jobs"] for r in shares), "count"),
            "rpc.call_ms": (1000 * span_s("rpc", "handle", t_rpc), "ms"),
            "rpc.self_ms": (self_ms("rpc", t_rpc), "ms"),
            "rpc.error_envelopes": (sum(
                bool(r.get("error_envelope")) for r in self.records), "count"),
            "search.plan_ms": (self_ms("search", t_rpc), "ms"),
            "search.full_pass_frac": (mean(
                any(s["name"] == "match_frame" for s in by_req[r["rid"]])
                for r in first_pages), "ratio"),
            "topk.term_dfs_ms": (self_ms("term_dfs", t_reads), "ms"),
            "topk.plan_ms": (self_ms("topk", t_reads), "ms"),
            "topk.df_sum": (percentile([r["df_sum"] for r in reads], 50), "count"),
            "spark.exec_ms": (self_ms("spark", t_reads), "ms"),
            "spark.jobs_per_request": (mean(r["jobs"] for r in t_reads), "count"),
            "spark.tasks_per_request": (mean(r["tasks"] for r in t_reads), "count"),
            "wand.replay_ms": (1000 * mean(r["wand_s"] for r in replayed), "ms"),
            "wand.decoded_bytes": (mean(r["wand_decoded"] for r in replayed), "B"),
            "wand.total_bytes": (mean(r["wand_total"] for r in replayed), "B"),
            "wand.decoded_frac": (
                sum(r["wand_decoded"] for r in replayed)
                / max(1, sum(r["wand_total"] for r in replayed)), "ratio"),
            "trace.unattributed_frac": (
                sum(own[s["id"]] for s in roots)
                / sum(s["end"] - s["start"] for s in roots), "ratio"),
            "trace.overhead_frac": (
                percentile([r["latency"] for r in t_reads], 50)
                / percentile(untraced, 50) - 1.0, "ratio"),
        })
        return m


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=reqgen.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)

    bench = Bench(args)
    try:
        bench.setup()
        bench.run()
        metrics = bench.metrics()
    finally:
        if hasattr(bench, "spark"):
            bench.spark.stop()
    failed = sum(1 for r in bench.records if r.get("failed"))
    result = {
        "correct": failed == 0,
        "attempted": len(bench.records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        "provenance": {
            "workload": args.workload,
            "seed": args.seed,
            "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
            "driver_mem": os.environ["SPARK_DRIVER_MEM"],
            "code_digest": code_digest(),
            "corpus_rows": CORPUS_ROWS,
            "loop": "closed, 1 client",
            "requests": len(bench.records),
            "oracle_s": round(bench.oracle_s, 3),
            "latency_ms": [[r["kind"], round(1000 * r["latency"]), r["df_sum"]]
                           for r in bench.records],
            "failures": bench.failures[:5],
            **bench.workload_metrics(),
        },
    }
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
