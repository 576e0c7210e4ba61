#!/usr/bin/env python3
"""Builds the SQLite database files the SqliteFile reader is tested on.

  src/test/resources/legacy/db.sqlite
      The four legacy tables (movies, actors, writers, movie_actors),
      loaded row-for-row from the JSONL fixtures in the same directory,
      with the legacy column order and actors.id as INTEGER PRIMARY KEY
      (a rowid alias). Page size 1024, so the longest movie rows spill
      into overflow-page chains. GoldenJdbcSpec reads it.

  src/test/resources/sqlite/cases.sqlite
      Small tables that each drive one part of the file format:
      every integer serial type, REAL (incl. integral REALs SQLite
      stores as integers), BLOB, NULL and multi-byte TEXT; values that
      span long overflow chains; a table deep enough for interior
      b-tree pages; rows written before ALTER TABLE ADD COLUMN.
      Page size 512, the smallest the format allows. SqliteFileSpec
      reads it and recomputes the expected values itself.

SQLite itself writes both files, so the reader is checked against the
reference implementation's encoding. Usage: python3 tools/make_sqlite_fixtures.py
"""
import json, os, sqlite3

RES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..",
                   "src", "test", "resources")

LEGACY_DDL = {
    "movies": "CREATE TABLE movies (id TEXT, genre TEXT, director TEXT, "
              "writer TEXT, title TEXT, plot TEXT, ratings TEXT, "
              "imdb_rating TEXT, writers TEXT)",
    "actors": "CREATE TABLE actors (id INTEGER PRIMARY KEY, name TEXT)",
    "writers": "CREATE TABLE writers (id TEXT, name TEXT)",
    "movie_actors": "CREATE TABLE movie_actors (movie_id TEXT, actor_id TEXT)",
}

# (v, r) rows of cases.ints; SqliteFileSpec holds the same list
INTS = [0, 1, -1, 127, -128, 128, 32767, -32768, 32768, 8388607, -8388608,
        8388608, 2147483647, -2147483648, 2147483648, 140737488355327,
        -140737488355328, 140737488355328, 9223372036854775807,
        -9223372036854775808, None]
TEXT = "naïve café — 東京"
LONG_LENGTHS = [10, 400, 600, 5000, 20000]
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def fresh(path, page_size):
    if os.path.exists(path):
        os.remove(path)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    con = sqlite3.connect(path)
    con.execute(f"PRAGMA page_size = {page_size}")
    con.execute("PRAGMA journal_mode = DELETE")
    return con


def legacy():
    con = fresh(os.path.join(RES, "legacy", "db.sqlite"), 1024)
    for table, ddl in LEGACY_DDL.items():
        con.execute(ddl)
        cols = ddl[ddl.index("(") + 1:-1].split(", ")
        names = [c.split()[0] for c in cols]
        with open(os.path.join(RES, "legacy", f"{table}.jsonl")) as f:
            rows = [json.loads(line) for line in f]
        marks = ", ".join("?" * len(names))
        con.executemany(f"INSERT INTO {table} VALUES ({marks})",
                        [[r[n] for n in names] for r in rows])
        print(f"{table}: {len(rows)} rows")
    con.commit()
    con.close()


def cases():
    con = fresh(os.path.join(RES, "sqlite", "cases.sqlite"), 512)
    con.execute("CREATE TABLE ints (id INTEGER PRIMARY KEY, v INTEGER, "
                "r REAL, b BLOB, t TEXT)")
    for i, v in enumerate(INTS, start=1):
        # r: a quarter step (stored as an 8-byte float) on odd ids, an
        # integral value on even ids (stored as an integer by SQLite)
        r = None if v is None else (i + 0.25 if i % 2 else float(i * 1000))
        con.execute("INSERT INTO ints VALUES (?, ?, ?, ?, ?)",
                    (i * 7, v, r, bytes(range(i)), f"{i}:{TEXT}"))
    con.execute("CREATE TABLE long_text (id INTEGER PRIMARY KEY, body TEXT)")
    for i, n in enumerate(LONG_LENGTHS, start=1):
        body = (f"{i}:" + ALPHA * (n // len(ALPHA) + 1))[:n]
        con.execute("INSERT INTO long_text VALUES (?, ?)", (i, body))
    con.execute("CREATE TABLE many (id INTEGER PRIMARY KEY, k TEXT)")
    con.executemany("INSERT INTO many VALUES (?, ?)",
                    [(i, f"k{i:05d}") for i in range(1, 3001)])
    con.execute("CREATE TABLE altered (a TEXT, b INTEGER)")
    con.executemany("INSERT INTO altered VALUES (?, ?)",
                    [("old1", 1), ("old2", 2), ("old3", 3)])
    con.execute("ALTER TABLE altered ADD COLUMN c TEXT")
    con.executemany("INSERT INTO altered VALUES (?, ?, ?)",
                    [("new4", 4, "c4"), ("new5", 5, None)])
    con.commit()
    con.close()


if __name__ == "__main__":
    legacy()
    cases()
