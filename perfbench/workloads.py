"""The benchmark's two workloads.

Each workload names its input set (see ``gen.py``), runs one *pass* (one
full unit of its work) at a time, and checks every pass's output. Checks
that need extra jobs run after the pass's wall time is taken, and one-time
reference checks run after the last pass, so the first pass is still the
cold one a fresh ``spark-submit`` would see.

* ``train_seq``: ``apps.generate_training_data.main`` with its heaviest
  supported configuration, then ``apps.generate_prediction_cohort.main``
  for ``readmission``, on one synthetic OMOP folder.
* ``op_battery``: the 14 headline queries, each forced by one
  ``bit_xor(xxhash64(all columns))``, on seeded TPC-H-shaped tables; then a
  file-source stream through ``session_window_stream`` (built-in state) and
  ``asof_join_stream`` (``applyInPandasWithState``).
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb

from perfbench import gen

#: One query per operator family, as in the repository's ``bench.py``.
HEADLINE = [
    "q1_pricing_summary",
    "j1_equi_inner",
    "j6_interval_join",
    "j7_asof_join",
    "a2_hourly_mean",
    "w1_latest_order",
    "w7_sessionize",
    "seq_user_sequence",
    "r1_transitive_closure",
    "d_exact_dedup",
    "d_minhash_lsh",
    "d_minhash_capped",
    "sim_cosine_topk",
    "t_quality",
]

#: Tables each headline query scans, for rows consumed per pass.
QUERY_TABLES = {
    "q1_pricing_summary": ["lineitem"],
    "j1_equi_inner": ["orders", "customer"],
    "j6_interval_join": ["orders", "lineitem"],
    "j7_asof_join": ["orders", "lineitem"],
    "a2_hourly_mean": ["events"],
    "w1_latest_order": ["orders"],
    "w7_sessionize": ["events"],
    "seq_user_sequence": ["events"],
    "r1_transitive_closure": ["customer"],
    "d_exact_dedup": ["documents"],
    "d_minhash_lsh": ["documents"],
    "d_minhash_capped": ["documents"],
    "sim_cosine_topk": ["embeddings"],
    "t_quality": ["documents"],
}

OMOP_DOMAINS = ["condition_occurrence", "drug_exposure", "procedure_occurrence"]
COHORTS = ["readmission"]

#: The synthetic vocabulary's domain concept id ranges (see ``gen.py``).
CONCEPT_RANGES = [
    (gen.CONDITION_BASE, gen.N_CONDITIONS),
    (gen.DRUG_BASE, gen.N_DRUGS),
    (gen.INGREDIENT_BASE, gen.N_INGREDIENTS),
    (gen.PROCEDURE_BASE, gen.N_PROCEDURES),
]


class CheckFailed(Exception):
    """A pass produced a wrong output."""


def _load_ref(path: str):
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    return None


def _save_ref(path: str, value) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(value, f, sort_keys=True)
    os.replace(tmp, path)


def fold(df) -> list:
    """Order-independent checksum of a whole DataFrame (row count, xor and
    decimal sum of a 60-bit md5 per row), as the repository's checksum
    duals compute it."""
    from pyspark.sql import functions as F

    from cehrbert_data_spark.queries.checksums import _fold

    row = _fold(df, [F.col(c) for c in sorted(df.columns)]).collect()[0]
    return [row["n_rows"], row["xor_h"], row["sum_h"]]


class Workload:
    name = ""
    kind = ""  # gen.py input set
    size = 0  # default size
    tiny = 0  # smoke-test size

    def __init__(self, data_dir: str, census: dict, work_dir: str):
        self.data = data_dir
        self.census = census
        self.work = work_dir
        self.errors: list[str] = []

    def input_rows(self) -> int:
        raise NotImplementedError

    def run_pass(self, spark, pass_id: int, tracer=None) -> None:
        raise NotImplementedError

    def check_pass(self, spark, pass_id: int) -> None:
        """Raise :class:`CheckFailed` when the pass's output is wrong."""

    def finish(self, spark, passes: list[dict]) -> None:
        """One-time checks after the last pass; may mark passes wrong."""

    def hooks(self, tracer, pass_ref: list) -> None:
        """Wrap this workload's layer entry points in spans."""

    def extra_layer_metrics(self, tracer, traced_ids: list[int]) -> dict:
        return {}


# --- OMOP apps ---------------------------------------------------------------

#: Layer functions the app modules bind by name.
APP_LAYERS = {
    "sources.readers": ("read_parquet", "normalize_domain_table"),
    "sources.writers": ("checkpoint_barrier", "write_parquet", "write_split",
                        "write_bucketed"),
    "omop.events": ("extract_events_by_domain", "invalidate_visit_id",
                    "extract_ehr_records"),
    "omop.visits": ("construct_artificial_visits",),
    "omop.sequence": ("create_sequence_data_with_att", "create_concept_frequency_data"),
    "omop.cohort": ("build_base_cohort", "label_cohort", "add_time_to_event",
                    "to_meds_format"),
    "omop.vocab": ("roll_up_to_drug_ingredients", "roll_up_diagnosis",
                   "get_descendant_concepts"),
}


def _writer_exit(span: dict, args, kwargs) -> None:
    from perfbench.trace import dir_bytes_files

    path = kwargs.get("path") or next((a for a in args if isinstance(a, str)), None)
    if path and os.path.exists(path):
        span["bytes_written"], span["files"] = dir_bytes_files(path)


def _concept_filter(col: str) -> str:
    """DuckDB predicate: ``col`` is a domain concept of the vocabulary."""
    return " OR ".join(f"{col} BETWEEN {lo} AND {lo + n - 1}" for lo, n in CONCEPT_RANGES)


class TrainSeq(Workload):
    """CEHR-BERT pretraining sequences with the heaviest supported
    configuration, then a labeled readmission cohort, from one folder."""

    name = "train_seq"
    kind = "omop"
    size = 400
    tiny = 200

    def _out(self, pass_id: int) -> str:
        return os.path.join(self.work, f"pass_{pass_id}")

    def input_rows(self) -> int:
        # Each app consumes every domain event once.
        return self.census["person_events"] * (1 + len(COHORTS))

    def run_pass(self, spark, pass_id: int, tracer=None) -> None:
        from cehrbert_data_spark.apps import generate_prediction_cohort as cohort_app
        from cehrbert_data_spark.apps import generate_training_data as train_app

        out = self._out(pass_id)
        shutil.rmtree(out, ignore_errors=True)
        self.last_seq = train_app.main(
            input_folder=self.data,
            output_folder=out,
            domain_table_list=OMOP_DOMAINS,
            att_type="cehr_bert",
            inpatient_att_type="mix",
            include_visit_type=True,
            include_inpatient_hour_token=True,
            should_construct_artificial_visits=True,
            with_drug_rollup=True,
            spark=spark,
        )
        # Concept-frequency features keep the cohort half's cost in cohort
        # building and planning rather than in a second sequence build.
        self.last_cohorts = [
            cohort_app.main(
                input_folder=self.data,
                output_folder=out,
                cohort_name=name,
                ehr_table_list=OMOP_DOMAINS,
                observation_window=360,
                hold_off_window=180,
                prediction_window=30,
                is_feature_concept_frequency=True,
                spark=spark,
            )
            for name in COHORTS
        ]

    def check_pass(self, spark, pass_id: int) -> None:
        try:
            self._check_fold(spark, "patient_sequence", self.last_seq, pass_id)
            self._check_sequences(self.last_seq)
            for name, out in zip(COHORTS, self.last_cohorts):
                self._check_fold(spark, name, out, pass_id)
                self._check_cohort(name, out)
        finally:
            if pass_id > 0:
                shutil.rmtree(self._out(pass_id - 1), ignore_errors=True)

    def _check_fold(self, spark, key: str, path: str, pass_id: int) -> None:
        """The output's fold must not change across passes and runs of one
        seed; the first pass of a fresh input set records it."""
        got = fold(spark.read.parquet(path))
        ref_path = os.path.join(self.data, f"ref_{key}.json")
        ref = _load_ref(ref_path)
        if ref is None:
            _save_ref(ref_path, got)
        elif ref != got:
            raise CheckFailed(f"{key}: fold {got} != reference {ref} (pass {pass_id})")

    def _events_sql(self) -> str:
        """Every domain event on an existing visit, drugs rolled up to their
        ingredient as ``with_drug_rollup`` does, as (person_id, concept)."""
        d = self.data
        return f"""
            WITH anc AS (
                SELECT ca.descendant_concept_id AS drug, ca.ancestor_concept_id AS ingredient
                FROM '{d}/concept_ancestor/*.parquet' ca
                JOIN '{d}/concept/*.parquet' c ON c.concept_id = ca.ancestor_concept_id
                WHERE c.concept_class_id = 'Ingredient'
            ), e AS (
                SELECT person_id, visit_occurrence_id, condition_concept_id AS c
                FROM '{d}/condition_occurrence/*.parquet'
                UNION ALL
                SELECT person_id, visit_occurrence_id, coalesce(anc.ingredient, drug_concept_id)
                FROM '{d}/drug_exposure/*.parquet' LEFT JOIN anc ON anc.drug = drug_concept_id
                UNION ALL
                SELECT person_id, visit_occurrence_id, procedure_concept_id
                FROM '{d}/procedure_occurrence/*.parquet'
            )
            SELECT e.person_id::BIGINT AS p, e.c::BIGINT AS c
            FROM e JOIN '{d}/visit_occurrence/*.parquet' v USING (visit_occurrence_id)
        """

    def _check_sequences(self, out: str) -> None:
        """One sequence per person with an event on an existing visit (ages
        stay under the app's 90-year filter by construction), and each
        person's set of concept tokens equals that person's rolled-up
        events, compared as a count and a hash sum of distinct pairs."""
        con = duckdb.connect()
        try:
            n, n_person = con.execute(
                f"SELECT count(*), count(DISTINCT person_id) FROM '{out}/*.parquet'"
            ).fetchone()
            want = con.execute(
                f"SELECT count(DISTINCT p) FROM ({self._events_sql()})"
            ).fetchone()[0]
            if not (n == n_person == want):
                raise CheckFailed(f"patient_sequence: {n} sequences for {n_person} "
                                  f"persons, want {want}")
            got_pairs = con.execute(
                f"""
                WITH t AS (
                    SELECT person_id::BIGINT AS p,
                           TRY_CAST(unnest(concept_ids) AS BIGINT) AS c
                    FROM '{out}/*.parquet'
                )
                SELECT count(*), sum(hash(p, c)) FROM (SELECT DISTINCT p, c FROM t
                                                       WHERE {_concept_filter('c')})
                """
            ).fetchone()
            want_pairs = con.execute(
                f"SELECT count(*), sum(hash(p, c)) FROM (SELECT DISTINCT p, c FROM "
                f"({self._events_sql()}))"
            ).fetchone()
        finally:
            con.close()
        if got_pairs != want_pairs:
            raise CheckFailed(f"patient_sequence: (person, concept) pairs {got_pairs}, "
                              f"want {want_pairs}")

    def _check_cohort(self, name: str, out: str) -> None:
        """Unique ``(cohort_member_id, person_id)``, 0/1 labels, and every
        feature concept is one of that person's own domain events."""
        d = self.data
        con = duckdb.connect()
        try:
            n, n_keys, bad_labels = con.execute(
                f"SELECT count(*), count(DISTINCT (cohort_member_id, person_id)), "
                f"count(*) FILTER (WHERE label NOT IN (0, 1)) FROM '{out}/*.parquet'"
            ).fetchone()
            union = " UNION ALL ".join(
                f"SELECT person_id, {t.split('_')[0]}_concept_id AS c "
                f"FROM '{d}/{t}/*.parquet'" for t in OMOP_DOMAINS
            )
            foreign = con.execute(
                f"""
                WITH f AS (SELECT person_id, TRY_CAST(unnest(concept_ids) AS BIGINT) AS c
                           FROM '{out}/*.parquet')
                SELECT count(*) FROM f
                WHERE NOT EXISTS (SELECT 1 FROM ({union}) e
                                  WHERE e.person_id = f.person_id AND e.c = f.c)
                """
            ).fetchone()[0]
        finally:
            con.close()
        if n == 0 or n != n_keys or bad_labels or foreign:
            raise CheckFailed(f"{name}: {n} rows for {n_keys} (cohort_member_id, person_id), "
                              f"{bad_labels} bad labels, {foreign} foreign concepts")

    def hooks(self, tracer, pass_ref: list) -> None:
        from cehrbert_data_spark.apps import generate_prediction_cohort as cohort_app
        from cehrbert_data_spark.apps import generate_training_data as train_app

        for module in (train_app, cohort_app):
            for layer, names in APP_LAYERS.items():
                for name in names:
                    if hasattr(module, name):
                        on_exit = _writer_exit if layer == "sources.writers" else None
                        tracer.wrap(module, name, layer, pass_ref, on_exit)

    def extra_layer_metrics(self, tracer, traced_ids: list[int]) -> dict:
        spans = [s for s in tracer.spans
                 if s["pass"] in traced_ids and s["layer"] == "sources.writers"]
        n = max(1, len(traced_ids))
        written = sum(s.get("bytes_written", 0) for s in spans) / n
        return {
            "sources.writers.bytes_written": written,
            "sources.writers.files": sum(s.get("files", 0) for s in spans) / n,
            "sources.writers.write_amp": written / max(1, self.census["input_bytes"]),
        }


# --- operator battery --------------------------------------------------------

class OpBattery(Workload):
    """The 14 headline queries, read-only, then the two stateful streaming
    operators over file-source micro-batches."""

    name = "op_battery"
    kind = "battery"
    size = 10
    tiny = 2
    TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]
    #: Every data chunk in one micro-batch; the sentinel file, written
    #: later, comes in the next and advances the watermark.
    FILES_PER_TRIGGER = gen.N_CHUNKS
    WATERMARK = "1 hour"
    SCHEMA = "uid int, ts timestamp, v double"

    def __init__(self, *a):
        super().__init__(*a)
        self.checksums: dict[int, dict[str, int]] = {}
        self.phases: dict[int, dict[str, dict]] = {}
        self.frames: dict = {}  # the last pass's DataFrame per query
        self.folds: dict[int, dict] = {}
        self.progress: dict[int, dict[str, list]] = {}

    def input_rows(self) -> int:
        t = self.census["tables"]
        scanned = sum(t[name]["rows"] for q in HEADLINE for name in QUERY_TABLES[q])
        # Both streaming operators read every event.
        return scanned + 2 * self.census["stream_events"]

    def run_pass(self, spark, pass_id: int, tracer=None) -> None:
        from cehrbert_data_spark.queries import all_queries

        qs = all_queries()
        sums: dict[str, int] = {}
        phases: dict[str, dict] = {}
        failed = []
        for q in HEADLINE:
            try:
                if tracer is None:
                    self.frames[q] = qs[q](spark, self.data)
                    sums[q] = self._force(self.frames[q])
                else:
                    with tracer.span(f"operators.{q}", "operators", pass_id):
                        self.frames[q], sums[q], phases[q] = self._force_traced(
                            spark, qs[q], tracer)
            except Exception as exc:  # noqa: BLE001 - one query never hides the rest
                failed.append(f"{q}: {type(exc).__name__}: {str(exc)[:200]}")
        self.checksums[pass_id] = sums
        self.phases[pass_id] = phases
        self.progress[pass_id] = {}
        for name, build in self._streams().items():
            if tracer is None:
                self._run_stream(spark, pass_id, name, build)
            else:
                with tracer.span(f"streaming.{name}", "streaming", pass_id):
                    self._run_stream(spark, pass_id, name, build)
        if failed:
            raise CheckFailed("; ".join(failed))

    def _forcing(self, df):
        from pyspark.sql import functions as F

        cols = ", ".join(f"`{c.replace('`', '``')}`" for c in df.columns)
        return df.selectExpr(f"xxhash64({cols}) AS __h").agg(F.expr("bit_xor(__h)"))

    def _force(self, df) -> int:
        return self._forcing(df).collect()[0][0]

    def _force_traced(self, spark, fn, tracer) -> tuple:
        n0 = tracer._py4j
        t0 = time.time()
        df = fn(spark, self.data)
        t1 = time.time()
        n1 = tracer._py4j
        forced = self._forcing(df)
        forced._jdf.queryExecution().executedPlan()
        t2 = time.time()
        value = forced.collect()[0][0]
        t3 = time.time()
        return df, value, {"build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
                           "py4j_calls": n1 - n0}

    # -- streaming ------------------------------------------------------------
    def _streams(self):
        from cehrbert_data_spark.streaming import operators as so

        def session(events, quotes):
            return so.session_window_stream(events, ["uid"], "ts", watermark=self.WATERMARK)

        def asof(events, quotes):
            # No idle-key timeout: with a processing-time timeout registered
            # the engine keeps scheduling batches to fire it, so a finite
            # file stream never drains.
            return so.asof_join_stream(
                events, quotes, ["uid"], ts="ts", right_value="v",
                lookback_s=3600.0, watermark=self.WATERMARK, state_timeout_ms=None,
            )

        return {"session_window": session, "asof_join": asof}

    def _read(self, spark, sub: str, streaming: bool):
        path = os.path.join(self.data, "stream", sub)
        if streaming:
            return (spark.readStream.schema(self.SCHEMA)
                    .option("maxFilesPerTrigger", self.FILES_PER_TRIGGER).parquet(path))
        return spark.read.schema(self.SCHEMA).parquet(path)

    def _sink(self, kind: str, name: str, pass_id: int) -> str:
        return os.path.join(self.work, f"{kind}_{name}_{pass_id}")

    def _run_stream(self, spark, pass_id: int, name: str, build) -> None:
        out = build(self._read(spark, "events", True), self._read(spark, "quotes", True))
        q = (out.writeStream.outputMode("append").format("parquet")
             .option("path", self._sink("sink", name, pass_id))
             .option("checkpointLocation", self._sink("ckpt", name, pass_id))
             .trigger(availableNow=True).start())
        try:
            q.processAllAvailable()
            self.progress[pass_id][name] = q.recentProgress
        finally:
            q.stop()

    # -- checks ---------------------------------------------------------------
    def check_pass(self, spark, pass_id: int) -> None:
        from pyspark.sql import functions as F

        folds = {}
        for name in self._streams():
            sink = self._sink("sink", name, pass_id)
            folds[name] = fold(spark.read.parquet(sink).where(F.col("uid") >= 0))
            for kind in ("sink", "ckpt"):
                shutil.rmtree(self._sink(kind, name, pass_id), ignore_errors=True)
        self.folds[pass_id] = folds

    def finish(self, spark, passes: list[dict]) -> None:
        """Fix each query's reference checksum once per dataset from its
        DuckDB oracle, and the streams' reference folds from their batch
        duals; then hold every pass to both."""
        ref_path = os.path.join(self.data, "ref_op_battery.json")
        ref = _load_ref(ref_path)
        if ref is None:
            if len(self.frames) < len(HEADLINE):
                return  # no pass built every query; each has failed already
            ref = self._oracle_checksums(spark)
            ref["streams"] = self._batch_duals(spark)
            _save_ref(ref_path, ref)
        for p in passes:
            got = self.checksums.get(p["id"], {})
            bad = [q for q in HEADLINE if got.get(q) != ref.get(q)]
            if self.folds.get(p["id"]) != ref["streams"]:
                bad.append(f"streams {self.folds.get(p['id'])} != batch {ref['streams']}")
            if p["ok"] and bad:
                p["ok"] = False
                self.errors.append(f"pass {p['id']}: mismatch in {bad}")

    def _oracle_checksums(self, spark) -> dict:
        """Each query's DuckDB oracle result, written to parquet and read
        back with the Spark query's column names and types, forced the way
        a pass forces the query. Integer widths may differ between the
        engines; any other type difference fails the query."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import IntegralType

        from cehrbert_data_spark.queries import all_oracles

        oracles = all_oracles()
        out = os.path.join(self.work, "oracle")
        os.makedirs(out, exist_ok=True)
        con = duckdb.connect()
        for t in self.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        sums = {}
        for q in HEADLINE:
            path = os.path.join(out, f"{q}.parquet")
            con.execute(f"COPY ({oracles[q]}) TO '{path}' (FORMAT PARQUET)")
            oracle = spark.read.parquet(path)
            fields = {f.name.lower(): f for f in oracle.schema.fields}
            cols = []
            for f in self.frames[q].schema.fields:
                o = fields.get(f.name.lower())
                if o is None or (o.dataType != f.dataType and not (
                        isinstance(o.dataType, IntegralType)
                        and isinstance(f.dataType, IntegralType))):
                    self.errors.append(f"{q}: column {f.name} {f.dataType.simpleString()}"
                                       f" vs oracle {o and o.dataType.simpleString()}")
                    break
                cols.append(F.col(f"`{o.name}`").cast(f.dataType).alias(f.name))
            else:
                if len(cols) == len(fields):
                    sums[q] = self._force(oracle.select(cols))
                else:
                    self.errors.append(f"{q}: oracle columns {sorted(fields)}")
        con.close()
        return sums

    def _batch_duals(self, spark) -> dict:
        """Each streaming operator run as a batch query over the same files."""
        from pyspark.sql import functions as F

        events = self._read(spark, "events", False).where(F.col("uid") >= 0)
        quotes = self._read(spark, "quotes", False)
        return {name: fold(build(events, quotes).where(F.col("uid") >= 0))
                for name, build in self._streams().items()}

    # -- per-layer metrics ----------------------------------------------------
    def extra_layer_metrics(self, tracer, traced_ids: list[int]) -> dict:
        from perfbench.trace import median

        out = {}
        n = max(1, len(traced_ids))
        for q in HEADLINE:
            for phase in ("build_s", "plan_s", "exec_s", "py4j_calls"):
                vals = [self.phases[i][q][phase] for i in traced_ids
                        if q in self.phases.get(i, {})]
                out[f"operators.{q}.{phase}"] = sum(vals) / n
        batches, trig, add, rows, mem = [], [], [], [], []
        for i in traced_ids:
            per = self.progress.get(i, {})
            real = [p for prog in per.values() for p in prog if p["numInputRows"] > 0]
            batches.append(sum(len(prog) for prog in per.values()))
            trig += [p["durationMs"].get("triggerExecution", 0) for p in real]
            add += [p["durationMs"].get("addBatch", 0) for p in real]
            last = [prog[-1] for prog in per.values() if prog]
            rows.append(sum(op.get("numRowsTotal", 0)
                            for p in last for op in p.get("stateOperators", [])))
            mem.append(sum(op.get("memoryUsedBytes", 0)
                           for p in last for op in p.get("stateOperators", [])))
        out.update({
            "streaming.batches": median(batches),
            "streaming.trigger_ms_p50": median(trig),
            "streaming.add_batch_ms": median(add),
            "streaming.state_rows": median(rows),
            "streaming.state_bytes": median(mem),
        })
        return out


WORKLOADS = {w.name: w for w in (TrainSeq, OpBattery)}
