"""Reference results and result digests for the benchmark's correctness
check.

A result's digest is the SHA-256 of its canonical CSV form: columns
sorted by name, values as text, rows sorted. graft's results (parquet
written by the driver) and DuckDB's reference results are digested the
same way, so equal digests mean equal results. Reference digests are
cached per input digest, query and SQL text.
"""
import glob
import hashlib
import json
import os

import duckdb
import pandas as pd
import pyarrow.parquet as pq

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# Independent word count of the corpus text files: the reference's
# tokenizer ([punct|space]+ separators, empty tokens dropped), in DuckDB.
CORPUS_WORDCOUNT_SQL = """
SELECT word, count(*) AS cnt
FROM (SELECT unnest(string_split_regex(line, '[[:punct:][:space:]]+')) AS word
      FROM (SELECT unnest(string_split(content, chr(10))) AS line
            FROM read_text('{text}/*.txt')))
WHERE length(word) > 0
GROUP BY word"""


def canonical(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def digest(df):
    return hashlib.sha256(canonical(df).to_csv(index=False).encode()).hexdigest()


def read_result(path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        raise FileNotFoundError(f"no parquet result under {path}")
    return pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)


def result_rows(path):
    """Row count of a written result, from parquet footers only."""
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet result under {path}")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)


def self_check(df, good):
    """A deliberately corrupted copy of a correct result must not pass."""
    bad = df.copy()
    if len(bad) == 0:
        bad.loc[0] = [None] * len(bad.columns)
    else:
        c = bad.columns[-1]
        bad[c] = bad[c].astype(str)
        bad.iloc[len(bad) // 2, -1] = bad.iloc[len(bad) // 2, -1] + "x"
    return digest(bad) != good


class Reference:
    def __init__(self, cache_dir, threads):
        self.cache_dir = cache_dir
        self.threads = threads
        self.con = None

    def _connect(self, tables, corpus):
        con = duckdb.connect()
        con.execute("SET timezone = 'UTC'")
        con.execute(f"SET threads = {self.threads}")
        con.execute("SET memory_limit = '2GB'")
        con.execute(f"SET temp_directory = '{self.cache_dir}/duckdb_tmp'")
        if tables:
            for t in TABLES:
                p = os.path.join(tables, f"{t}.parquet")
                if os.path.exists(p):
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        if corpus:
            con.execute("CREATE VIEW documents AS SELECT * FROM read_parquet("
                        f"'{corpus}/documents.parquet/*.parquet')")
        return con

    def get(self, key, sql, tables=None, corpus=None):
        """(rows, digest) of `sql`'s result on the given inputs; `key`
        names the inputs (their content digest)."""
        h = hashlib.sha256((key + "\0" + sql).encode()).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{h}.json")
        if os.path.exists(path):
            with open(path) as fh:
                r = json.load(fh)
            return r["rows"], r["digest"]
        if self.con is None:
            os.makedirs(self.cache_dir, exist_ok=True)
            self.con = self._connect(tables, corpus)
        df = self.con.execute(sql).fetchdf()
        r = {"rows": len(df), "digest": digest(df)}
        with open(path + ".tmp", "w") as fh:
            json.dump(r, fh)
        os.replace(path + ".tmp", path)
        return r["rows"], r["digest"]
