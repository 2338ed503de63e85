"""Seeded input generators for the benchmark, DuckDB only.

Two input sets, each a pure function of ``(seed, size)`` and cached under
``perfbench/.cache/<kind>/s<seed>_n<size>/`` with a ``census.json`` that
records rows and bytes per table and the ``person_id`` / ``user_id`` skew:

* ``omop``: a synthetic OMOP CDM folder (person, visit_occurrence,
  condition_occurrence, drug_exposure, procedure_occurrence,
  observation_period, death, and a small concept / concept_ancestor
  vocabulary) with long-tailed visits per person. ``size``
  is the number of persons.
* ``battery``: the repository's test-data layout (TPC-H-shaped tables plus
  events, documents and embeddings) that the query battery reads, and under
  ``stream/`` time-sliced event chunks for a file-source stream plus one
  far-future sentinel file. ``size`` is a multiple of the 0.1 scale
  factor's row counts, in hundredths (100 = 600k lineitem rows); the stream
  has ``1000 * size`` events.

Every random draw is ``hash(row key, seed, salt)``, so the output does not
depend on DuckDB's thread count or scan order; the seed also permutes the
physical row order of every table.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import duckdb

CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".cache")


def _u(key: str, seed: int, salt: int) -> str:
    """SQL for a uniform draw in [0, 1) keyed on ``key``."""
    return f"((hash({key}, {seed}, {salt}) % 1000003) / 1000003.0)"


def _pick(options: list, key: str, seed: int, salt: int) -> str:
    """SQL picking one of ``options`` uniformly."""
    lit = ", ".join(repr(o) for o in options)
    return f"([{lit}])[1 + (hash({key}, {seed}, {salt}) % {len(options)})::INT]"


def _copy(con, sql: str, path: str) -> None:
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def _table_census(con, path: str) -> dict:
    if os.path.isdir(path):
        files = [os.path.join(path, f) for f in sorted(os.listdir(path))]
    else:
        files = [path]
    rows = con.execute(
        "SELECT count(*) FROM read_parquet(?)", [files]
    ).fetchone()[0]
    return {"rows": rows, "bytes": sum(os.path.getsize(f) for f in files)}


def _top1pct_share(con, per_key_sql: str) -> float:
    """Share of rows held by the top 1% of keys; ``per_key_sql`` yields one
    ``n`` per key."""
    return con.execute(
        f"""
        WITH k AS ({per_key_sql}),
        r AS (SELECT n, row_number() OVER (ORDER BY n DESC) AS rk,
                     count(*) OVER () AS nk FROM k)
        SELECT sum(n) FILTER (WHERE rk <= greatest(1, nk // 100)) / sum(n) FROM r
        """
    ).fetchone()[0]


def cached(kind: str, seed: int, size: int) -> tuple[str, dict]:
    """Return ``(directory, census)`` for one input set, generating it on
    first use. A half-written directory (no census) is rebuilt."""
    out = os.path.join(CACHE, kind, f"s{seed}_n{size}")
    census_path = os.path.join(out, "census.json")
    if os.path.exists(census_path):
        with open(census_path) as f:
            return out, json.load(f)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    t0 = time.time()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    con.execute("SET enable_progress_bar = false")
    try:
        census = GENERATORS[kind](con, out, seed, size)
    finally:
        con.close()
    census.update(kind=kind, seed=seed, size=size, gen_s=round(time.time() - t0, 3))
    census["input_bytes"] = sum(t["bytes"] for t in census["tables"].values())
    with open(census_path, "w") as f:
        json.dump(census, f, indent=1, sort_keys=True)
    return out, census


# --- OMOP folder -------------------------------------------------------------

INPATIENT = 9201
OUTPATIENT = 9202
ER = 9203
#: Concept id ranges of the synthetic vocabulary (first id, count).
CONDITION_BASE, N_CONDITIONS = 4_000_000, 2000
DRUG_BASE, N_DRUGS = 19_000_000, 1000
INGREDIENT_BASE, N_INGREDIENTS = 19_100_000, 100
PROCEDURE_BASE, N_PROCEDURES = 2_000_000, 500


def gen_omop(con, out: str, seed: int, n_persons: int) -> dict:
    """Synthetic OMOP CDM folder, one parquet directory per table.

    Visits per person follow a capped Pareto tail (alpha ~1.2), so a few
    persons hold a large share of the events, as in real EHR extracts.
    About 10% of visits are 9201 inpatient stays of 1-10 days; a sixth of
    those have a NULL ``visit_end_datetime``. About 3% of domain rows point
    at a visit id that does not exist.
    """
    u = lambda key, salt: _u(key, seed, salt)  # noqa: E731
    # The visit-count tail draws from a seeded permutation of evenly spaced
    # quantiles, so every seed has the same multiset of visit counts (and so
    # nearly the same total events); only which person gets which differs.
    con.execute(
        f"""
        CREATE TEMP TABLE person AS
        WITH p AS (
            SELECT i, (row_number() OVER (ORDER BY hash(i, {seed}, 7)) - 0.5) / {n_persons}
                       AS r_tail
            FROM range({n_persons}) t(i)
        )
        SELECT i + 1 AS person_id,
               (1935 + floor({u('i', 1)} * 65))::INT AS year_of_birth,
               (1 + floor({u('i', 2)} * 12))::INT AS month_of_birth,
               (1 + floor({u('i', 3)} * 28))::INT AS day_of_birth,
               {_pick([8507, 8532], 'i', seed, 4)} AS gender_concept_id,
               {_pick([8527, 8516, 8515, 8557, 0], 'i', seed, 5)} AS race_concept_id,
               DATE '2005-01-01' + (floor({u('i', 6)} * 2500))::INT AS first_day,
               least(400, 1 + floor(1.2 * pow(r_tail, -0.85)))::INT AS n_visits
        FROM p
        """
    )
    con.execute(
        f"""
        CREATE TEMP TABLE visit AS
        WITH v AS (
            SELECT person_id, first_day, v FROM person JOIN range(400) r(v) ON v < n_visits
        ), k AS (
            SELECT person_id, person_id * 1000 + v AS visit_occurrence_id,
                   first_day + (floor({u('person_id * 1000 + v', 11)} * 3650))::INT
                       AS visit_start_date,
                   {u('person_id * 1000 + v', 12)} AS r_type,
                   (8 + floor({u('person_id * 1000 + v', 13)} * 10))::INT AS start_hour,
                   (1 + floor({u('person_id * 1000 + v', 14)} * 10))::INT AS stay_days,
                   {u('person_id * 1000 + v', 15)} AS r_end
            FROM v
        )
        SELECT person_id, visit_occurrence_id,
               CASE WHEN r_type < 0.10 THEN {INPATIENT}
                    WHEN r_type < 0.30 THEN {ER} ELSE {OUTPATIENT} END AS visit_concept_id,
               visit_start_date,
               visit_start_date + INTERVAL (start_hour) HOUR AS visit_start_datetime,
               CASE WHEN r_type < 0.10 THEN visit_start_date + stay_days
                    ELSE visit_start_date END AS visit_end_date,
               CASE WHEN r_type < 0.10 AND r_end < 1.0 / 6 THEN NULL
                    WHEN r_type < 0.10
                        THEN visit_start_date + stay_days + INTERVAL (start_hour) HOUR
                    ELSE visit_start_date + INTERVAL (start_hour + 1) HOUR
               END AS visit_end_datetime,
               CASE WHEN r_type < 0.10 AND r_end > 0.97 THEN 4216643
                    WHEN r_type < 0.10 THEN 8536 ELSE 0 END AS discharged_to_concept_id,
               CASE WHEN r_type < 0.10 THEN stay_days ELSE 0 END AS span_days
        FROM k
        """
    )

    def domain(name, id_col, concept_col, date_col, datetime_col, per_visit,
               concept_base, n_concepts, salt):
        # per_visit events per visit: floor(u * per_visit) + (1 for conditions)
        key = f"visit_occurrence_id * 10 + e"
        lo = 1 if name == "condition_occurrence" else 0
        return f"""
        WITH e AS (
            SELECT * FROM visit JOIN range({lo + per_visit}) r(e)
              ON e < {lo} + floor({u('visit_occurrence_id', salt)} * {per_visit})
        )
        SELECT visit_occurrence_id * 10 + e AS {id_col},
               person_id,
               ({concept_base} + floor(pow({u(key, salt + 1)}, 2) * {n_concepts}))::INT
                   AS {concept_col},
               visit_start_date + (floor({u(key, salt + 2)} * (span_days + 1)))::INT
                   AS {date_col},
               visit_start_date + (floor({u(key, salt + 2)} * (span_days + 1)))::INT
                   + INTERVAL (floor({u(key, salt + 3)} * 86400)) SECOND AS {datetime_col},
               CASE WHEN {u(key, salt + 4)} < 0.03 THEN visit_occurrence_id + 500
                    ELSE visit_occurrence_id END AS visit_occurrence_id
        FROM e
        ORDER BY hash({key}, {seed})
        """

    tables = {
        "person": f"""
            SELECT person_id, year_of_birth, month_of_birth, day_of_birth,
                   make_timestamp(year_of_birth, month_of_birth, day_of_birth, 0, 0, 0)
                       AS birth_datetime,
                   gender_concept_id, race_concept_id
            FROM person ORDER BY hash(person_id, {seed})
        """,
        "visit_occurrence": f"""
            SELECT * EXCLUDE (span_days) FROM visit
            ORDER BY hash(visit_occurrence_id, {seed})
        """,
        "condition_occurrence": domain(
            "condition_occurrence", "condition_occurrence_id", "condition_concept_id",
            "condition_start_date", "condition_start_datetime", 3, CONDITION_BASE,
            N_CONDITIONS, 20,
        ),
        "drug_exposure": domain(
            "drug_exposure", "drug_exposure_id", "drug_concept_id",
            "drug_exposure_start_date", "drug_exposure_start_datetime", 3,
            DRUG_BASE, N_DRUGS, 30,
        ),
        "procedure_occurrence": domain(
            "procedure_occurrence", "procedure_occurrence_id", "procedure_concept_id",
            "procedure_date", "procedure_datetime", 2, PROCEDURE_BASE, N_PROCEDURES, 40,
        ),
        "observation_period": f"""
            SELECT person_id AS observation_period_id, person_id,
                   min(visit_start_date) - 30 AS observation_period_start_date,
                   max(visit_end_date) + 365 AS observation_period_end_date,
                   44814724 AS period_type_concept_id
            FROM visit GROUP BY person_id ORDER BY hash(person_id, {seed})
        """,
        "death": f"""
            SELECT person_id,
                   max(visit_end_date) + (floor({u('person_id', 50)} * 400))::INT
                       AS death_date,
                   CAST(max(visit_end_date) + (floor({u('person_id', 50)} * 400))::INT
                        AS TIMESTAMP) AS death_datetime,
                   0 AS cause_concept_id
            FROM visit WHERE {u('person_id', 51)} < 0.03
            GROUP BY person_id ORDER BY hash(person_id, {seed})
        """,
        "concept": f"""
            SELECT concept_id, 'concept ' || concept_id AS concept_name, domain_id,
                   vocabulary_id, concept_class_id, 'S' AS standard_concept,
                   concept_id::VARCHAR AS concept_code
            FROM (
                SELECT {CONDITION_BASE} + i AS concept_id, 'Condition' AS domain_id,
                       'SNOMED' AS vocabulary_id, 'Clinical Finding' AS concept_class_id
                FROM range({N_CONDITIONS}) t(i)
                UNION ALL SELECT {DRUG_BASE} + i, 'Drug', 'RxNorm', 'Clinical Drug'
                FROM range({N_DRUGS}) t(i)
                UNION ALL SELECT {INGREDIENT_BASE} + i, 'Drug', 'RxNorm', 'Ingredient'
                FROM range({N_INGREDIENTS}) t(i)
                UNION ALL SELECT {PROCEDURE_BASE} + i, 'Procedure', 'CPT4', 'CPT4'
                FROM range({N_PROCEDURES}) t(i)
                UNION ALL SELECT c, 'Visit', 'Visit', 'Visit'
                FROM (VALUES ({INPATIENT}), ({OUTPATIENT}), ({ER})) v(c)
            ) ORDER BY hash(concept_id, {seed})
        """,
        # Self rows for every drug and ingredient, plus one ingredient
        # ancestor for 90% of drugs; the rest keep their own id on roll-up.
        "concept_ancestor": f"""
            SELECT * FROM (
                SELECT c AS ancestor_concept_id, c AS descendant_concept_id,
                       0 AS min_levels_of_separation, 0 AS max_levels_of_separation
                FROM (SELECT {DRUG_BASE} + i AS c FROM range({N_DRUGS}) t(i)
                      UNION ALL SELECT {INGREDIENT_BASE} + i FROM range({N_INGREDIENTS}) t(i))
                UNION ALL
                SELECT {INGREDIENT_BASE} + hash(i, {seed}, 60) % {N_INGREDIENTS},
                       {DRUG_BASE} + i, 1, 1
                FROM range({N_DRUGS}) t(i) WHERE {u('i', 61)} < 0.9
            ) ORDER BY hash(ancestor_concept_id, descendant_concept_id, {seed})
        """,
    }
    census: dict = {"tables": {}}
    for name, sql in tables.items():
        d = os.path.join(out, name)
        os.makedirs(d)
        _copy(con, sql, os.path.join(d, "part-0.parquet"))
        census["tables"][name] = _table_census(con, d)
    domains = ("condition_occurrence", "drug_exposure", "procedure_occurrence")
    per_person = " UNION ALL ".join(
        f"SELECT person_id FROM read_parquet('{out}/{t}/*.parquet')" for t in domains
    )
    census["person_events"] = sum(census["tables"][t]["rows"] for t in domains)
    census["top1pct_person_event_share"] = round(
        _top1pct_share(con, f"SELECT count(*) AS n FROM ({per_person}) GROUP BY person_id"), 4
    )
    census["inpatient_share"] = round(
        con.execute(
            f"SELECT avg((visit_concept_id = {INPATIENT})::INT) FROM visit"
        ).fetchone()[0],
        4,
    )
    return census


# --- query-battery tables ----------------------------------------------------

WORDS = (
    "spark line column order small sort fast value scan a hash slow group "
    "batch agg filter query big key window row part table stream merge data "
    "join vector customer the"
).split()


def gen_battery(con, out: str, seed: int, hundredths: int) -> dict:
    """The repository's test-data layout at ``hundredths``/100 of the 0.1
    scale factor's row counts. Keys are dense from 0, as the graph and
    similarity queries expect; values, dates, texts and row order come from
    the seed. About 5% of documents repeat an earlier text exactly and 5%
    repeat it with one word changed, so the dedup queries have work. The
    stream chunks (``gen_stream``) go under ``stream/``."""
    s = hundredths / 100.0
    n_cust, n_supp, n_part = int(15000 * s), max(25, int(1000 * s)), int(20000 * s)
    n_ord, n_users, n_ev = int(150000 * s), max(10, int(1500 * s)), int(100000 * s)
    n_docs, n_emb = int(5000 * s), max(10, int(2000 * s))
    u = lambda key, salt: _u(key, seed, salt)  # noqa: E731
    order_date = f"(TIMESTAMP '1995-01-01' + INTERVAL (floor({u('o', 103)} * 2400)) DAY)"
    words = "[" + ", ".join(repr(w) for w in WORDS) + "]"

    tables = {
        "region": """
            SELECT i::INT AS r_regionkey,
                   (['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[i + 1] AS r_name
            FROM range(5) t(i)
        """,
        "nation": """
            SELECT i::INT AS n_nationkey, 'NATION_' || i AS n_name, (i % 5)::INT AS n_regionkey
            FROM range(25) t(i)
        """,
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
                   floor({u('i', 1)} * 25)::INT AS c_nationkey,
                   round({u('i', 2)} * 10999 - 999, 2) AS c_acctbal,
                   {_pick(['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'], 'i', seed, 3)}
                       AS c_mktsegment
            FROM range({n_cust}) t(i) ORDER BY hash(i, {seed}, 4)
        """,
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
                   floor({u('i', 11)} * 25)::INT AS s_nationkey,
                   round({u('i', 12)} * 10999 - 999, 2) AS s_acctbal
            FROM range({n_supp}) t(i) ORDER BY hash(i, {seed}, 13)
        """,
        "part": f"""
            SELECT i AS p_partkey,
                   {_pick(['large', 'small', 'hot', 'cold', 'steel', 'brass'], 'i', seed, 21)}
                   || ' ' || {_pick(['ring', 'bolt', 'nut', 'gear', 'pipe'], 'i', seed, 22)}
                       AS p_name,
                   'Brand#' || (1 + hash(i, {seed}, 23) % 25) AS p_brand,
                   {_pick(['LARGE', 'SMALL', 'ECONOMY', 'STANDARD', 'PROMO'], 'i', seed, 24)}
                       AS p_type,
                   (1 + hash(i, {seed}, 25) % 50)::INT AS p_size,
                   round(900 + (i % 1000) / 10.0 + {u('i', 26)}, 2) AS p_retailprice
            FROM range({n_part}) t(i) ORDER BY hash(i, {seed}, 27)
        """,
        "orders": f"""
            SELECT o AS o_orderkey, floor({u('o', 101)} * {n_cust})::BIGINT AS o_custkey,
                   {_pick(['O', 'F', 'P'], 'o', seed, 102)} AS o_orderstatus,
                   round({u('o', 104)} * 500000 + 900, 2) AS o_totalprice,
                   {order_date} AS o_orderdate,
                   {_pick(['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'], 'o', seed, 105)}
                       AS o_orderpriority
            FROM range({n_ord}) t(o) ORDER BY hash(o, {seed}, 106)
        """,
        "lineitem": f"""
            WITH l AS (
                SELECT o, ln FROM range({n_ord}) t(o) JOIN range(1, 8) r(ln)
                  ON ln < 2 + hash(o, {seed}, 110) % 7
            )
            SELECT o AS l_orderkey,
                   floor({u('o * 8 + ln', 111)} * {n_part})::BIGINT AS l_partkey,
                   floor({u('o * 8 + ln', 112)} * {n_supp})::BIGINT AS l_suppkey,
                   ln::INT AS l_linenumber,
                   (1 + hash(o * 8 + ln, {seed}, 113) % 50)::DOUBLE AS l_quantity,
                   round((1 + hash(o * 8 + ln, {seed}, 113) % 50) * (900 + {u('o * 8 + ln', 114)} * 1100), 2)
                       AS l_extendedprice,
                   (hash(o * 8 + ln, {seed}, 115) % 11) / 100.0 AS l_discount,
                   (hash(o * 8 + ln, {seed}, 116) % 9) / 100.0 AS l_tax,
                   {_pick(['A', 'N', 'R'], 'o * 8 + ln', seed, 117)} AS l_returnflag,
                   {_pick(['O', 'F'], 'o * 8 + ln', seed, 118)} AS l_linestatus,
                   {order_date} + INTERVAL (1 + hash(o * 8 + ln, {seed}, 119) % 121) DAY
                       AS l_shipdate
            FROM l ORDER BY hash(o * 8 + ln, {seed}, 120)
        """,
        "events": f"""
            SELECT i AS event_id,
                   TIMESTAMP '2024-01-01' + INTERVAL (floor({u('i', 201)} * 2592000000000)) MICROSECOND
                       AS ts,
                   floor(pow({u('i', 202)}, 1.5) * {n_users})::BIGINT AS user_id,
                   {_pick(['signup', 'click', 'error', 'view', 'purchase'], 'i', seed, 203)}
                       AS event_type,
                   round({u('i', 204)} * 200, 2) AS value,
                   '{{"k": ' || (hash(i, {seed}, 205) % 100) || '}}' AS props
            FROM range({n_ev}) t(i) ORDER BY hash(i, {seed}, 206)
        """,
        "documents": f"""
            WITH w AS (
                SELECT i, string_agg(
                           {words}[1 + (hash(i, x, {seed}, 301) % {len(WORDS)})::INT], ' '
                           ORDER BY x) AS t0
                FROM range({n_docs}) t(i) JOIN range(90) r(x)
                  ON x < 10 + hash(i, {seed}, 300) % 80
                GROUP BY i
            ), base AS (
                SELECT i, t0, {u('i', 302)} AS r,
                       floor({u('i', 303)} * greatest(i, 1))::BIGINT AS src
                FROM w
            ), src_text AS (SELECT i AS src, t0 AS src_t FROM base)
            SELECT b.i AS doc_id,
                   CASE WHEN b.r < 0.05 AND b.i > 0 THEN s.src_t
                        WHEN b.r < 0.10 AND b.i > 0 THEN 'spark ' || s.src_t
                        ELSE b.t0 END AS text,
                   {_pick(['en'] * 9 + ['zh'], 'b.i', seed, 304)} AS lang,
                   'src' || (hash(b.i, {seed}, 305) % 20) AS source,
                   length(CASE WHEN b.r < 0.05 AND b.i > 0 THEN s.src_t
                               WHEN b.r < 0.10 AND b.i > 0 THEN 'spark ' || s.src_t
                               ELSE b.t0 END)::BIGINT AS n_chars
            FROM base b JOIN src_text s ON s.src = b.src
            ORDER BY hash(b.i, {seed}, 306)
        """,
        "embeddings": f"""
            SELECT i AS vec_id,
                   list_transform(range(64), x -> (
                       ((hash(i, x, {seed}, 401) % 20000) / 50000.0 - 0.2)
                       + ((hash(i % 10, x, {seed}, 402) % 20000) / 100000.0 - 0.1)
                   )::FLOAT) AS embedding,
                   (i % 10)::INT AS label
            FROM range({n_emb}) t(i) ORDER BY hash(i, {seed}, 403)
        """,
    }
    census: dict = {"tables": {}}
    for name, sql in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        _copy(con, sql, path)
        census["tables"][name] = _table_census(con, path)
    census["scanned_rows"] = sum(t["rows"] for t in census["tables"].values())
    census["top1pct_user_event_share"] = round(
        _top1pct_share(
            con,
            f"SELECT count(*) AS n FROM '{out}/events.parquet' GROUP BY user_id",
        ),
        4,
    )
    stream = gen_stream(con, os.path.join(out, "stream"), seed, 1000 * hundredths)
    census["tables"].update(stream.pop("tables"))
    census.update(stream)
    return census


# --- stream chunks -----------------------------------------------------------

N_CHUNKS = 4
CHUNK_HOURS = 6
N_UIDS_PER_EVENT = 40  # one user per 40 events


def gen_stream(con, out: str, seed: int, n_events: int) -> dict:
    """Two chunked sources of ``(uid, ts, v)`` rows, ``events`` and
    ``quotes`` (the as-of join's right side, a quarter the size), each in
    ``N_CHUNKS`` files strictly time-sliced (chunk c holds [c*6h, (c+1)*6h))
    with file mtimes in chunk order, so a file source reads both in step.
    ``events`` ends with a sentinel file whose far-future row advances the
    watermark past every real window. No ``(uid, ts)`` pair repeats within
    a source, so as-of matches have no ties. Returns the census entries,
    with table names prefixed ``stream/``."""
    n_uids = max(10, n_events // N_UIDS_PER_EVENT)
    u = lambda key, salt: _u(key, seed, salt)  # noqa: E731
    census: dict = {"tables": {}}
    for sub, n_rows, salt in (("events", n_events, 500), ("quotes", n_events // 4, 600)):
        src = os.path.join(out, sub)
        os.makedirs(src)
        per_chunk = n_rows // N_CHUNKS
        for c in range(N_CHUNKS):
            path = os.path.join(src, f"chunk_{c:03d}.parquet")
            _copy(
                con,
                f"""
                SELECT uid, ts, v FROM (
                    SELECT floor(pow({u('i', salt + 1)}, 1.3) * {n_uids})::INT AS uid,
                           TIMESTAMP '2020-03-01'
                             + INTERVAL ({c * CHUNK_HOURS * 3600}) SECOND
                             + INTERVAL (floor({u('i', salt + 2)} * {CHUNK_HOURS * 3600 * 1000}))
                               MILLISECOND AS ts,
                           round({u('i', salt + 3)} * 1000, 2) AS v, i
                    FROM range({c * per_chunk}, {(c + 1) * per_chunk}) t(i)
                )
                QUALIFY row_number() OVER (PARTITION BY uid, ts ORDER BY i) = 1
                ORDER BY hash(i, {seed}, {salt + 4})
                """,
                path,
            )
            os.utime(path, (1_600_000_000 + c,) * 2)
        if sub == "events":
            sentinel = os.path.join(src, "zz_sentinel.parquet")
            _copy(
                con,
                "SELECT -1::INT AS uid, TIMESTAMP '2020-04-10' AS ts, 0.0::DOUBLE AS v",
                sentinel,
            )
            os.utime(sentinel, (1_600_000_000 + N_CHUNKS + 10,) * 2)
        census["tables"][f"stream/{sub}"] = _table_census(con, src)
    census["stream_events"] = census["tables"]["stream/events"]["rows"] - 1
    census["stream_chunks"] = N_CHUNKS
    census["top1pct_stream_uid_event_share"] = round(
        _top1pct_share(
            con, f"SELECT count(*) AS n FROM '{out}/events/chunk_*.parquet' GROUP BY uid"
        ),
        4,
    )
    return census


GENERATORS = {"omop": gen_omop, "battery": gen_battery}
