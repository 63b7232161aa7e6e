"""Seeded workload inputs for the benchmark.

Replicates the base tables in `perfbench/data/` by the rules of
`tools/scale_synth.py`, with the seed choosing the replica offsets:

- documents: replica k gets ids shifted by (k + slot) * count, a multiple
  of the base count (500), so every modulus the query fixtures key on
  (10/20/100/120) keeps its density; its text is the original's words
  rotated by a seeded offset, so each replica family stays a near-dup
  clique. `slot` is seeded too, which moves every row to other
  RfpSynth groups (client, date format, question) between seeds.
- embeddings: replica k's vector is the original rotated by a seeded
  offset; ids shift by max(count, 3200) so the capped kNN query set
  (`vec_id % 100 = 0 AND vec_id < 3200`) is exactly the base one.
- events: replicas shift event_id by the base count and user_id past the
  base max, starting at a seeded slot, on the same timeline, so per-user
  sessions keep their shape and per-type counts grow exactly by F.

Each table directory is built under a temporary name and renamed into
place, so a run that dies half way never leaves a table that looks done.
"""
import os
import random
import shutil

import duckdb

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("documents", "embeddings", "events")
MAX_QUERY_ID = 3200  # SimilarityQueries.maxQueryId


def _offsets(rng, n, hi=64):
    """Replica 0 keeps the original; the others get distinct rotations."""
    return [0] + rng.sample(range(1, hi), n - 1)


def _build(con, dst, factors, seed):
    rng = random.Random(seed)
    src = {t: f"{BASE}/{t}.parquet" for t in TABLES}
    for t in TABLES:
        con.execute(f"CREATE VIEW base_{t} AS SELECT * FROM '{src[t]}'")
    count = {t: con.execute(f"SELECT count(*) FROM base_{t}").fetchone()[0]
             for t in TABLES}

    def replicas(offsets):
        rows = ", ".join(f"({k}, {o})" for k, o in enumerate(offsets))
        return f"(VALUES {rows}) AS g(k, r)"

    fd, fe, fv = factors["documents"], factors["embeddings"], factors["events"]
    nd = count["documents"]
    slot = rng.randrange(4)
    con.execute(f"""
      COPY (
        SELECT doc_id + (k + {slot}) * {nd} AS doc_id,
          CASE WHEN r = 0 THEN text ELSE array_to_string(
            w[(r % greatest(len(w), 1)) + 1 :] || w[1 : (r % greatest(len(w), 1))],
            ' ') END AS text,
          lang, source, n_chars
        FROM (SELECT *, string_split(text, ' ') AS w FROM base_documents),
             {replicas(_offsets(rng, fd))}
        ORDER BY k, doc_id
      ) TO '{dst}/documents.parquet' (FORMAT PARQUET)""")

    eshift = max(count["embeddings"], MAX_QUERY_ID)
    con.execute(f"""
      COPY (
        SELECT vec_id + k * {eshift} AS vec_id,
          CASE WHEN r = 0 THEN embedding ELSE
            embedding[(r % len(embedding)) + 1 :] || embedding[1 : (r % len(embedding))]
          END AS embedding,
          label
        FROM base_embeddings, {replicas(_offsets(rng, fe))}
        ORDER BY k, vec_id
      ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)""")

    nev = count["events"]
    ushift = con.execute("SELECT max(user_id) + 1 FROM base_events").fetchone()[0]
    evslot = rng.randrange(4)
    con.execute(f"""
      COPY (
        SELECT event_id + (k + {evslot}) * {nev} AS event_id, ts,
               user_id + (k + {evslot}) * {ushift} AS user_id,
               event_type, value, props
        FROM base_events, {replicas([0] * fv)}
        ORDER BY k, event_id
      ) TO '{dst}/events.parquet' (FORMAT PARQUET)""")

    # The invariants scale_synth.py asserts.
    for t, f in factors.items():
        got = con.execute(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0]
        assert got == count[t] * f, (t, got, count[t], f)
    capped = ("SELECT count(*) FROM {} WHERE vec_id % 100 = 0 "
              f"AND vec_id < {MAX_QUERY_ID}")
    assert con.execute(capped.format(f"'{dst}/embeddings.parquet'")).fetchone() == \
        con.execute(capped.format("base_embeddings")).fetchone(), \
        "capped kNN query set changed"
    per_type = "SELECT event_type, count(*) FROM {} GROUP BY 1 ORDER BY 1"
    base = con.execute(per_type.format("base_events")).fetchall()
    got = con.execute(per_type.format(f"'{dst}/events.parquet'")).fetchall()
    assert got == [(t, c * fv) for t, c in base], \
        "per-type event counts must scale exactly by the factor"


def prepare(cache_root, name, factors, seed):
    """Returns (table dir, {table: (rows, bytes)}), building it if absent."""
    tag = "-".join(f"{t[:3]}{factors[t]}" for t in TABLES)
    dst = os.path.join(cache_root, f"{name}-seed{seed}-{tag}")
    if not os.path.isdir(dst):
        tmp = f"{dst}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        con = duckdb.connect()
        con.execute("SET threads=2")
        try:
            _build(con, tmp, factors, seed)
        finally:
            con.close()
        try:
            os.rename(tmp, dst)
        except OSError:  # another run built it first
            shutil.rmtree(tmp, ignore_errors=True)
    con = duckdb.connect()
    try:
        sizes = {t: (con.execute(f"SELECT count(*) FROM '{dst}/{t}.parquet'").fetchone()[0],
                     os.path.getsize(f"{dst}/{t}.parquet")) for t in TABLES}
    finally:
        con.close()
    return dst, sizes
