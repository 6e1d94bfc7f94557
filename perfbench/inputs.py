"""Seeded input generator for the benchmark's workloads.

Every input is derived from the testdata sample in `data/` (a copy of
the sf0.01 tables, and of the sf0.1 `events` table in `data/sf0.1/`)
and from the seed alone: the same seed gives the same files. The
program under test only ever sees the generated files.
"""
import os
import random
import shutil

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data")
EVENTS = os.path.join(BASE, "sf0.1", "events.parquet")
# rows of the automl journey's CSV
EVENT_ROWS = 10_000
# beyond any base key domain, as in scripts/make_scale_corpus.py
STRIDE = 10_000_000_000


def _corpus(out, seed, factor):
    """`factor` replicas of documents+embeddings. Replica r > 0 strides
    every id by r*STRIDE and appends a seeded tag to the first token of
    each text, so replicas are near-duplicates of the base, not exact
    ones, and dedup selectivity stays realistic. Embeddings replicate
    as they are."""
    rng = random.Random(seed)
    tags = ["r%d" % rng.randrange(10 ** 6) for _ in range(factor)]
    reps = "(VALUES %s) t(rep, tag)" % ", ".join(
        "(%d, '%s')" % (r, tags[r]) for r in range(factor))
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    text = ("CASE WHEN rep = 0 THEN text "
            "ELSE regexp_replace(text, '^(\\S+)', '\\1' || tag) END")
    con.execute(f"""COPY (
      SELECT doc_id + rep*{STRIDE} AS doc_id, {text} AS text, lang, source,
             CAST(length({text}) AS BIGINT) AS n_chars
      FROM read_parquet('{BASE}/documents.parquet'), {reps}
      ORDER BY doc_id) TO '{out}/documents.parquet' (FORMAT PARQUET)""")
    con.execute(f"""COPY (
      SELECT vec_id + rep*{STRIDE} AS vec_id, embedding, label
      FROM read_parquet('{BASE}/embeddings.parquet'), {reps}
      ORDER BY vec_id) TO '{out}/embeddings.parquet' (FORMAT PARQUET)""")
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{out}/documents.parquet')").fetchone()[0]


def _events_csv(out, seed, rows):
    """A seeded sample of `rows` of the sf0.1 events as CSV, `props`
    dropped and `event_type` binarised (error vs the rest) as
    PipelineSpec does."""
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    ids = [r[0] for r in con.execute(
        f"SELECT event_id FROM read_parquet('{EVENTS}') ORDER BY event_id"
    ).fetchall()]
    keep = sorted(random.Random(seed).sample(ids, min(rows, len(ids))))
    con.execute("CREATE TABLE keep AS SELECT unnest(?::BIGINT[]) AS event_id", [keep])
    con.execute(f"""COPY (
      SELECT e.event_id, strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts, e.user_id,
             CASE WHEN e.event_type = 'error' THEN 1.0 ELSE 0.0 END AS event_type,
             e.value
      FROM read_parquet('{EVENTS}') e JOIN keep USING (event_id)
      ORDER BY e.event_id) TO '{out}/events.csv' (HEADER, DELIMITER ',')""")
    return len(keep)


def generate(workload, seed, out, size):
    """Writes the workload's inputs under `out`; returns the input size
    (rows, docs or tables) for the record."""
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    if workload == "analytics":
        # the tables as they are (the seed orders the keys), and the CSV
        # of the automl journey that the traced run hosts
        tables = [f for f in os.listdir(BASE) if f.endswith(".parquet")]
        for f in tables:
            shutil.copyfile(os.path.join(BASE, f), os.path.join(out, f))
        _events_csv(out, seed, EVENT_ROWS)
        return len(tables)
    if workload in ("curate", "ingest"):
        return _corpus(out, seed, size)
    if workload == "automl":
        return _events_csv(out, seed, EVENT_ROWS)
    raise ValueError(workload)
