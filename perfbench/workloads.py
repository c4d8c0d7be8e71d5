"""The benchmark's workloads. Each one generates its inputs from the
seed (`prepare`, untimed), runs one pass of operations through the
package's public functions (`run_pass`), and checks every output.

| workload     | operation                         | checked against                 |
|--------------|-----------------------------------|---------------------------------|
| analytics    | one query: construct + collect    | its DuckDB `ORACLE` value hash  |
| curation     | one query: construct + collect    | its DuckDB `ORACLE` value hash  |
| streaming    | one micro-batch (triggerExecution)| DuckDB over the source files    |
| registry_etl | one country: parse -> sink        | the generated cells             |
"""

from __future__ import annotations

import os
import statistics

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import datagen, registry_inputs as reg_in
from perfbench.probes import LatencyClientFactory

# Every per-layer metric, with its unit. A traced run reports all of
# them; a layer the workload never enters reads 0.
SINKS = ("neardup", "psi", "rollup")
COUNTRIES = ("belarus", "kazakhstan", "kyrgyzstan")
LAYER_METRICS: dict[str, str] = {
    "session.start_s": "s", "session.worker_spawn_s": "s",
    "catalog.schema_jobs": "count", "catalog.scan_rows": "count", "catalog.scan_bytes": "bytes",
    "queries.construct_s": "s", "queries.construct_jobs": "count", "queries.final_jobs": "count",
    "queries.execute_s": "s", "queries.collect_s": "s", "queries.stages": "count",
    "queries.tasks": "count",
    "util.pin_jobs": "count", "util.pin_s": "s",
    "spark.exec_run_s": "s", "spark.exec_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.fetch_wait_s": "s", "spark.spill_bytes": "bytes",
    "cpu.py_workers_s": "s", "cpu.driver_py_s": "s", "cpu.jvm_s": "s",
    "llm.requests": "count", "llm.gated_rows": "count", "llm.in_flight_mean": "count",
    "llm.in_flight_max": "count", "llm.wait_s": "s",
    "sources.read_excel_s": "s", "sources.read_docx_s": "s", "sources.write_excel_s": "s",
    "sources.bytes_in": "bytes", "sources.bytes_out": "bytes",
    "country_pipelines.build_s": "s", "country_pipelines.run_s": "s",
    **{f"streaming.{s}.{m}": u for s in SINKS for m, u in (
        ("batches", "count"), ("trigger_p50_s", "s"), ("add_batch_s", "s"),
        ("overhead_s", "s"), ("batch_growth", "ratio"), ("bytes_written_per_byte_in", "ratio"))},
    "tracing.overhead_s": "s",
}


class Workload:
    has_split = False
    input_rows = 0

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def on_session(self, b) -> None:
        """Called after the session is restarted for the traced passes."""

    def after_pass(self, b) -> None:
        b.spark.catalog.clearCache()  # caches never carry over between passes

    def layer_metrics(self, b, traced, jobs, dur, under) -> dict:
        return {}

    def breakdown(self, b) -> dict:
        """Per-operation medians over warm passes, for the artifact."""
        by_op: dict[str, list[float]] = {}
        for o in b.ops:
            if o.pass_no > 0 and o.ok:
                by_op.setdefault(o.name, []).append(o.wall)
        return {"op_median_s": {k: statistics.median(v) for k, v in by_op.items()}}


# --- query workloads -------------------------------------------------------


class QueryWorkload(Workload):
    """Registered queries over generated fixture tables. The first
    result of each query is compared with its DuckDB oracle (the
    `tests/oracle.py` canonical value hash); every later pass must
    reproduce that hash."""

    has_split = True
    queries: tuple[str, ...] = ()
    tables: tuple[str, ...] = ()
    scale = 1.0

    def prepare(self, b) -> None:
        from gov_data_pipeline_spark.queries import all_oracles, all_queries
        from tests.oracle import duckdb_con, run_oracle

        self.data = os.path.join(b.work, "data")
        rows = datagen.generate(self.data, self.seed, self.scale)
        self.input_rows = sum(rows[t] for t in self.tables)
        registry, oracles = all_queries(), all_oracles()
        self.fns = {q: registry[q] for q in self.queries}
        con = duckdb_con(self.data)
        self.oracle = {q: run_oracle(con, oracles[q]) for q in self.queries}
        con.close()
        self.hashes: dict[str, str] = {}

    def run_pass(self, b) -> None:
        for q in self.queries:
            b.op(q, lambda q=q: self._run(b, q), check=lambda pdf, q=q: self._check(q, pdf))

    def _run(self, b, q: str):
        with b.spans.span("queries.construct", query=q):
            df = self.fns[q](b.spark, self.data)
        if b.split_pass:
            # the final plan into a noop sink, then a freshly built frame
            # for the collect: re-running one frame would skip its shuffle
            # map stages
            with b.spans.span("queries.execute", query=q):
                df.write.format("noop").mode("overwrite").save()
            b.spark.catalog.clearCache()  # a lazy persist must not carry over either
            with b.spans.span("queries.construct", query=q, split=True):
                df = self.fns[q](b.spark, self.data)
        with b.spans.span("queries.collect", query=q):
            return df.toPandas()

    def _check(self, q: str, pdf) -> str | None:
        from tests.oracle import compare, value_hash

        h = value_hash(pdf)
        if q not in self.hashes:
            res = compare(pdf, self.oracle[q])
            if not res["hash_match"]:
                return f"differs from its DuckDB oracle: rows {res['rows']}"
            self.hashes[q] = h
        elif h != self.hashes[q]:
            return "value hash differs from the first pass"
        return None


class Analytics(QueryWorkload):
    queries = ("q01_pricing_summary", "q02_revenue_by_nation", "q06_asof_join",
               "q09_group_concat", "q10_window_rank", "q13_sessionize", "q60_tumbling",
               "q66_cumulative_alerts")
    tables = ("lineitem", "orders", "customer", "events")
    scale = 0.25


class Curation(QueryWorkload):
    queries = ("q42_minhash_lsh", "q168_quality_trained", "q198_multiclass_route")
    tables = ("documents", "embeddings")
    scale = 0.25


# --- streaming -------------------------------------------------------------


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


_ROLLUP_SQL = """
SELECT event_type, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bar, count(*) AS n, sum(value) AS sum_v,
       min(value) AS min_v, max(value) AS max_v, sum(value) / count(*) AS mean_v
FROM read_parquet('{src}/*.parquet') GROUP BY 1, 2 ORDER BY 1, 2
"""

_PSI_SQL = """
WITH ev AS (SELECT event_type, value, filename AS f
            FROM read_parquet('{src}/*.parquet', filename = true)),
stats AS (SELECT event_type, list_sort(list(value)) AS v, count(*) - 1 AS m
           FROM ev GROUP BY event_type),
-- Spark's exact `percentile`: (hi - pos) * v[lo] + (pos - lo) * v[hi], so
-- edges equal to data values round the same way in both engines
edges AS (SELECT event_type, list_transform([0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]::DOUBLE[],
            p -> CASE WHEN floor(m * p) = ceil(m * p)
                        OR v[CAST(floor(m * p) AS BIGINT) + 1] = v[CAST(ceil(m * p) AS BIGINT) + 1]
                      THEN v[CAST(floor(m * p) AS BIGINT) + 1]
                      ELSE (ceil(m * p) - m * p) * v[CAST(floor(m * p) AS BIGINT) + 1]
                           + (m * p - floor(m * p)) * v[CAST(ceil(m * p) AS BIGINT) + 1] END) AS edges
          FROM stats),
b AS (SELECT e.event_type, e.f, len(list_filter(x.edges, edge -> e.value > edge)) AS bucket
      FROM ev e JOIN edges x USING (event_type)),
ref AS (SELECT event_type, bucket, count(*) / sum(count(*)) OVER (PARTITION BY event_type) AS p
        FROM b GROUP BY 1, 2),
cur AS (SELECT event_type, f, bucket, count(*) AS n,
               sum(count(*)) OVER (PARTITION BY event_type, f) AS tot
        FROM b GROUP BY 1, 2, 3),
spine AS (SELECT DISTINCT c.event_type, c.f, c.tot, s.bucket
          FROM cur c CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS bucket) s)
SELECT s.event_type, s.f, CAST(s.tot AS BIGINT) AS n_events,
       round(sum((coalesce(c.n, 0) / s.tot - coalesce(r.p, 0))
                 * ln(greatest(coalesce(c.n, 0) / s.tot, 1e-6)
                      / greatest(coalesce(r.p, 0), 1e-6))), 4) AS psi
FROM spine s
LEFT JOIN cur c USING (event_type, f, bucket)
LEFT JOIN ref r USING (event_type, bucket)
GROUP BY s.event_type, s.f, s.tot
"""


class Streaming(Workload):
    """The three foreachBatch sinks, each draining K files one file per
    trigger (`availableNow`), with fresh corpus, output and checkpoint
    directories every pass."""

    K = 3
    scale = 0.1
    timeout_s = 150

    def prepare(self, b) -> None:
        import duckdb

        data = os.path.join(b.work, "data")
        rows = datagen.generate(data, self.seed, self.scale)
        self.events_src = os.path.join(b.work, "events_src")
        self.docs_src = os.path.join(b.work, "docs_src")
        ev = pq.read_table(os.path.join(data, "events.parquet"))
        # a tz-aware column reads back as Spark TIMESTAMP, as the stream schema says
        ev = ev.set_column(1, "ts", ev.column("ts").cast(pa.timestamp("us", tz="UTC")))
        docs = pq.read_table(os.path.join(data, "documents.parquet")).select(["doc_id", "text"])
        self.events_bytes = _split(ev, self.events_src, self.K)
        self.docs_bytes = _split(docs, self.docs_src, self.K)
        self.input_rows = rows["documents"] + 2 * rows["events"]
        con = duckdb.connect()
        con.execute("SET TimeZone = 'UTC'")
        self.rollup_expected = con.execute(_ROLLUP_SQL.format(src=self.events_src)).fetchall()
        psi = con.execute(_PSI_SQL.format(src=self.events_src)).fetchall()
        order = sorted({os.path.basename(r[1]) for r in psi})
        self.psi_expected = sorted((order.index(os.path.basename(f)), t, n, p)
                                   for t, f, n, p in psi)
        con.close()
        self.survivors: set | None = None
        self.progress: dict[int, dict[str, list]] = {}
        self.sizes: dict[int, dict[str, int]] = {}

    def run_pass(self, b) -> None:
        from gov_data_pipeline_spark.streaming import (
            incremental_hourly_rollup_sink,
            incremental_neardup_sink,
            psi_drift_sink,
            read_events_stream,
            reference_profile,
        )

        spark = b.spark
        d = os.path.join(b.work, "stream", f"p{b.pass_no}")
        self.progress[b.pass_no] = {}
        self.sizes[b.pass_no] = {}
        for sink in SINKS:
            out, ckpt = f"{d}/{sink}/out", f"{d}/{sink}/ckpt"
            with b.spans.span("streaming.start", sink=sink):
                if sink == "neardup":
                    writer = incremental_neardup_sink(
                        spark.readStream.schema("doc_id long, text string")
                        .option("maxFilesPerTrigger", 1).parquet(self.docs_src),
                        out, "text", "doc_id", ckpt, threshold=0.5)
                elif sink == "psi":
                    writer = psi_drift_sink(read_events_stream(spark, self.events_src),
                                            reference_profile(spark.read.parquet(self.events_src)),
                                            out, ckpt)
                else:
                    writer = incremental_hourly_rollup_sink(
                        read_events_stream(spark, self.events_src), out, ckpt)
                query = writer.trigger(availableNow=True).start()
            error = ""
            with b.spans.span("streaming.drain", sink=sink):
                try:
                    if not query.awaitTermination(self.timeout_s):
                        query.stop()
                        error = f"timeout after {self.timeout_s}s"
                except Exception as e:  # noqa: BLE001 - recorded as failed batches
                    error = f"{type(e).__name__}: {e}".splitlines()[0][:300]
            batches = [p for p in query.recentProgress if p["numInputRows"] > 0]
            self.progress[b.pass_no][sink] = batches
            for p in batches:
                b.add_op(f"{sink}.batch{p['batchId']}",
                         p["durationMs"]["triggerExecution"] / 1000.0, not error, error)
            for k in range(len(batches), self.K):
                b.add_op(f"{sink}.batch{k}", 0.0, False, error or "batch never ran")
            if not error:
                with b.untimed():
                    b.check(f"streaming.{sink}", self._verify(spark, sink, out))
            self.sizes[b.pass_no][sink] = _du(f"{d}/{sink}")

    def after_pass(self, b) -> None:
        super().after_pass(b)
        import shutil

        shutil.rmtree(os.path.join(b.work, "stream", f"p{b.pass_no}"), ignore_errors=True)

    def _verify(self, spark, sink: str, out: str) -> str | None:
        if sink == "rollup":
            from gov_data_pipeline_spark.streaming import read_hourly_rollup

            got = [tuple(r) for r in read_hourly_rollup(spark, out).collect()]
            return _close_rows(got, self.rollup_expected, "rollup")
        if sink == "psi":
            got = sorted((r["batch_id"], r["event_type"], r["n_events"], r["psi"])
                         for r in spark.read.parquet(out).collect())
            return _close_rows(got, self.psi_expected, "psi", abs_tol=1.01e-4)
        pdf = spark.read.parquet(out).select("doc_id", "text").toPandas()
        if pdf["text"].duplicated().any():
            return "two survivors have identical text"
        ids = set(pdf["doc_id"])
        if self.survivors is None:
            self.survivors = ids
        elif ids != self.survivors:
            return f"survivors differ from the first pass ({len(ids)} vs {len(self.survivors)})"
        return None

    def layer_metrics(self, b, traced, jobs, dur, under) -> dict:
        m: dict[str, tuple[float, str]] = {}
        n = len(traced)
        for sink in SINKS:
            batches = [p for t in traced for p in self.progress.get(t.pass_no, {}).get(sink, [])]
            trig = [p["durationMs"]["triggerExecution"] / 1000.0 for p in batches]
            add = [p["durationMs"].get("addBatch", 0) / 1000.0 for p in batches]
            growth = []
            for t in traced:
                seq = self.progress.get(t.pass_no, {}).get(sink, [])
                if len(seq) > 2 and seq[1]["durationMs"].get("addBatch"):
                    growth.append(seq[-1]["durationMs"]["addBatch"] / seq[1]["durationMs"]["addBatch"])
            written = statistics.mean(self.sizes[t.pass_no][sink] for t in traced)
            src = self.docs_bytes if sink == "neardup" else self.events_bytes
            m.update({
                f"streaming.{sink}.batches": (len(batches) / n, "count"),
                f"streaming.{sink}.trigger_p50_s": (statistics.median(trig) if trig else 0.0, "s"),
                f"streaming.{sink}.add_batch_s": (statistics.median(add) if add else 0.0, "s"),
                f"streaming.{sink}.overhead_s": (
                    statistics.median(t - a for t, a in zip(trig, add)) if trig else 0.0, "s"),
                f"streaming.{sink}.batch_growth": (
                    statistics.median(growth) if growth else 0.0, "ratio"),
                f"streaming.{sink}.bytes_written_per_byte_in": (written / src, "ratio"),
            })
        return m

    def breakdown(self, b) -> dict:
        return {"per_batch_ms": {
            p: {s: [{"batchId": x["batchId"], "rows": x["numInputRows"], **x["durationMs"]}
                    for x in v] for s, v in sinks.items()}
            for p, sinks in self.progress.items()}}


def _split(table, out_dir: str, k: int) -> int:
    """Write ``table`` as ``k`` row-contiguous files with increasing
    modification times, so the file source reads them in order."""
    os.makedirs(out_dir, exist_ok=True)
    bounds = np.linspace(0, table.num_rows, k + 1).astype(int)
    total = 0
    for i in range(k):
        path = os.path.join(out_dir, f"part-{i:03d}.parquet")
        pq.write_table(table.slice(bounds[i], bounds[i + 1] - bounds[i]), path)
        os.utime(path, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
        total += os.path.getsize(path)
    return total


def _close_rows(got: list[tuple], want: list[tuple], what: str,
                rel_tol: float = 1e-9, abs_tol: float = 1e-9) -> str | None:
    if len(got) != len(want):
        return f"{what}: {len(got)} rows, DuckDB has {len(want)}"
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        for a, c in zip(g, w):
            if isinstance(a, float) or isinstance(c, float):
                if a is None or c is None or abs(a - c) > max(abs_tol, rel_tol * abs(c)):
                    return f"{what}: {g} != {w}"
            elif _norm(a) != _norm(c):
                return f"{what}: {g} != {w}"
    return None


def _norm(v):
    return v.replace(tzinfo=None) if hasattr(v, "tzinfo") and v.tzinfo else v


def _sort_key(row: tuple):
    return tuple(str(_norm(v)) if not isinstance(v, (int, float)) else (v,) for v in row)


# --- registry ETL ----------------------------------------------------------


class RegistryEtl(Workload):
    """The reference job once per country: parse the registry file,
    transform and enrich it with the country pipeline, write the
    workbook. Enrichment calls an injected client with a fixed
    simulated provider latency."""

    rows_per_country = 40
    latency_s = 0.05

    def prepare(self, b) -> None:
        rng = np.random.default_rng(self.seed)
        self.dir = os.path.join(b.work, "registry")
        os.makedirs(self.dir, exist_ok=True)
        self.inputs = {}
        for country, make, ext in (("belarus", reg_in.belarus, "xlsx"),
                                   ("kazakhstan", reg_in.kazakhstan, "xlsx"),
                                   ("kyrgyzstan", reg_in.kyrgyzstan, "docx")):
            data, cells, expected = make(rng, self.rows_per_country)
            path = os.path.join(self.dir, f"{country}.{ext}")
            with open(path, "wb") as fh:
                fh.write(data)
            self.inputs[country] = (path, cells, expected)
        self.input_rows = 3 * self.rows_per_country
        self.factory = LatencyClientFactory(self.latency_s)
        self.bytes_out: dict[int, int] = {}
        self.gated_out: dict[int, int] = {}

    def on_session(self, b) -> None:
        self.factory = LatencyClientFactory(self.latency_s, b.counters)

    def run_pass(self, b) -> None:
        self.bytes_out[b.pass_no] = self.gated_out[b.pass_no] = 0
        for country in COUNTRIES:
            b.op(country, lambda c=country: self._run(b, c),
                 check=lambda got, c=country: self._check(b.pass_no, c, got))

    def after_pass(self, b) -> None:
        if b.pass_no == 0:
            self._probe_known_failures(b)
        super().after_pass(b)

    def _parse(self, b, country: str):
        from gov_data_pipeline_spark.sources import read_excel
        from gov_data_pipeline_spark.sources.documents import (
            assemble_rows,
            docx_tables,
            extract_xlsx_images,
            images_to_df,
        )

        path = self.inputs[country][0]
        with open(path, "rb") as fh:
            data = fh.read()
        if country == "kyrgyzstan":
            with b.spans.span("sources.read_docx"):
                raw = assemble_rows(b.spark, docx_tables(data)[0], skip_rows=2)
            return raw, None
        skip = 1 if country == "belarus" else 3
        with b.spans.span("sources.read_excel"):
            raw = read_excel(b.spark, data, skip_rows=skip)
            images = images_to_df(b.spark, extract_xlsx_images(data, skip_rows=skip))
        return raw, images

    def _build(self, b, country: str, raw, images):
        from gov_data_pipeline_spark import country_pipelines as cp

        with b.spans.span("country_pipelines.build"):
            if country == "belarus":
                return cp.belarus_pipeline(raw, images, self.factory)
            if country == "kazakhstan":
                return cp.kazakhstan_pipeline(raw, images, self.factory)
            return cp.kyrgyzstan_pipeline(raw, self.factory)

    def _run(self, b, country: str):
        from gov_data_pipeline_spark.sources import write_excel

        raw, images = self._parse(b, country)
        df = self._build(b, country, raw, images)
        if country == "kyrgyzstan":
            # write_excel cannot resolve the dotted key header (see
            # README, known failures); the collected frame stands in for
            # the sink and the write itself is probed once per run.
            with b.spans.span("country_pipelines.collect"):
                return raw, df.toPandas()
        out = os.path.join(self.dir, f"{country}-p{b.pass_no}.xlsx")
        with b.spans.span("sources.write_excel"):
            write_excel(df, out)
        self.bytes_out[b.pass_no] += os.path.getsize(out)
        return raw, out

    def _check(self, pass_no: int, country: str, got) -> str | None:
        from gov_data_pipeline_spark.sources.xlsx_zip import read_xlsx_rows

        raw, result = got
        _, cells, expected = self.inputs[country]
        skip = {"belarus": 1, "kazakhstan": 3, "kyrgyzstan": 0}[country]
        parsed = [[v or "" for v in r[1:]] for r in sorted(raw.collect(), key=lambda r: r[0])]
        width = max(len(r) for r in cells)
        want = [[v or "" for v in r] + [""] * (width - len(r)) for r in cells[skip:]]
        if country == "kyrgyzstan":
            want = want[2:]  # assemble_rows drops the two header rows
        if parsed != want:
            return "parsed rows differ from the generated cells"
        if isinstance(result, str):
            with open(result, "rb") as fh:
                back = read_xlsx_rows(fh.read())
            header, body = back[0], back[1:]
            rows = [dict(zip(header, [v or "" for v in r] + [""] * (len(header) - len(r))))
                    for r in body]
            os.remove(result)
        else:
            rows = [{k: ("" if v is None else str(v)) for k, v in r.items()}
                    for r in result.to_dict(orient="records")]
        # rows the program's exclusion gate kept from the model, as its
        # own output flags them
        self.gated_out[pass_no] += sum(1 for r in rows if r.get("excluded") == "Да")
        if reg_in.rows_key(rows) != reg_in.rows_key(expected):
            return "output rows differ from the expected enrichment"
        return None

    def _probe_known_failures(self, b) -> None:
        """Attempt the sinks known to fail, untimed, and record how."""
        from gov_data_pipeline_spark.sources import write_excel

        raw, _ = self._parse(b, "kyrgyzstan")
        df = self._build(b, "kyrgyzstan", raw, None)
        try:
            write_excel(df, os.path.join(self.dir, "kyrgyzstan-probe.xlsx"))
            b.known_failures["kyrgyzstan.write_excel"] = "no longer fails"
        except Exception as e:  # noqa: BLE001 - the failure is the finding
            b.known_failures["kyrgyzstan.write_excel"] = f"{type(e).__name__}: {e}".splitlines()[0][:200]

    def layer_metrics(self, b, traced, jobs, dur, under) -> dict:
        n = len(traced)
        nos = {t.pass_no for t in traced}
        sp = [s for t in traced for s in b.spans.items[t.first_span:t.last_span]]

        def total(name: str) -> float:
            return sum(s.end - s.start for s in sp if s.name == name) / n

        sink_jobs = _covered([j for j in jobs if under(j, "sources.write_excel")
                              or under(j, "country_pipelines.collect")])
        write_jobs = _covered([j for j in jobs if under(j, "sources.write_excel")])
        op_wall = sum(o.wall for o in b.ops if o.pass_no in nos and o.name in COUNTRIES) / n
        llm = b.counters.read()
        return {
            "llm.requests": (llm["requests"] / n, "count"),
            "llm.gated_rows": (float(statistics.mean(self.gated_out[t] for t in nos)), "count"),
            "llm.in_flight_mean": (llm["wait_s"] / n / op_wall, "count"),
            "llm.in_flight_max": (float(llm["in_flight_max"]), "count"),
            "llm.wait_s": (llm["wait_s"] / n, "s"),
            "sources.read_excel_s": (total("sources.read_excel"), "s"),
            "sources.read_docx_s": (total("sources.read_docx"), "s"),
            "sources.write_excel_s": (total("sources.write_excel") - write_jobs / n, "s"),
            "sources.bytes_in": (float(sum(os.path.getsize(p) for p, _, _ in self.inputs.values())),
                                 "bytes"),
            "sources.bytes_out": (statistics.mean(self.bytes_out[t] for t in nos), "bytes"),
            "country_pipelines.build_s": (total("country_pipelines.build"), "s"),
            "country_pipelines.run_s": (sink_jobs / n, "s"),
        }


class Pipelines(Workload):
    """`streaming` then `registry_etl` in one pass: the two workloads
    whose jobs write beside their reads, sharing one session set-up."""

    def __init__(self, seed: int) -> None:
        super().__init__(seed)
        self.parts = (Streaming(seed), RegistryEtl(seed))

    def prepare(self, b) -> None:
        for w in self.parts:
            w.prepare(b)
        self.input_rows = sum(w.input_rows for w in self.parts)

    def on_session(self, b) -> None:
        for w in self.parts:
            w.on_session(b)

    def run_pass(self, b) -> None:
        for w in self.parts:
            w.run_pass(b)

    def after_pass(self, b) -> None:
        for w in self.parts:
            w.after_pass(b)

    def layer_metrics(self, b, traced, jobs, dur, under) -> dict:
        return {k: v for w in self.parts for k, v in w.layer_metrics(b, traced, jobs, dur,
                                                                      under).items()}

    def breakdown(self, b) -> dict:
        return {k: v for w in self.parts for k, v in w.breakdown(b).items()}


def _covered(jobs) -> float:
    """Wall time covered by the union of the jobs' run intervals."""
    total, end = 0.0, float("-inf")
    for j in sorted(jobs, key=lambda j: j.submit):
        lo, hi = max(j.submit, end), max(j.end, j.submit)
        if hi > lo:
            total += hi - lo
        end = max(end, hi)
    return total


WORKLOADS = {
    "analytics": Analytics,
    "curation": Curation,
    "streaming": Streaming,
    "registry_etl": RegistryEtl,
    "pipelines": Pipelines,
}
