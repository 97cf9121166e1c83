"""DuckDB answers for the serve and curate checks, cached on disk.

The statements come from the engine's declared oracle (`SparkEntry.oracleSql`)
plus a listing template written here from the listing's documented semantics.
DuckDB runs them over the same parquet inputs the engine reads. Computing the
whole set takes minutes, so each answer is cached under `perfbench/oracle/`,
keyed by the statement's text and a digest of the input files: a changed
statement or input is a cache miss and is computed again.

Rebuild the cache for the serve and curate sets with
    python3 perfbench/run.py --rebuild-oracle
"""
import glob
import hashlib
import os
import re

import duckdb
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, "oracle")
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def data_digest(data_dir):
    h = hashlib.sha256()
    for name in sorted(os.listdir(data_dir)):
        h.update(name.encode())
        with open(os.path.join(data_dir, name), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def connect(data_dir):
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, t + ".parquet")
        if os.path.exists(p):
            con.sql("CREATE VIEW %s AS SELECT * FROM '%s'" % (t, p))
    return con


def cache_path(sql, digest):
    key = hashlib.sha256((sql + "\0" + digest).encode()).hexdigest()[:32]
    return os.path.join(CACHE, key + ".parquet")


class Oracle:
    def __init__(self, data_dir):
        self.data_dir = data_dir
        self.digest = data_digest(data_dir)
        self._con = None

    @property
    def con(self):
        if self._con is None:
            self._con = connect(self.data_dir)
        return self._con

    def answer(self, sql, cache=True):
        """The DuckDB answer as a pandas frame, read through Arrow whether
        it comes from the cache or from DuckDB, so both paths give the same
        dtypes."""
        path = cache_path(sql, self.digest)
        if cache and os.path.exists(path):
            return pq.read_table(path).to_pandas()
        table = self.con.sql(sql).arrow()
        if cache:
            os.makedirs(CACHE, exist_ok=True)
            tmp = path + ".tmp"
            pq.write_table(table, tmp)
            os.replace(tmp, path)
        return table.to_pandas()


# ---- the listing page -------------------------------------------------------

# Columns the listing may be sorted by; any other name falls back to
# last_crawled, with id breaking ties.
SORTABLE = {"id", "url", "domain", "title", "last_crawled", "file_type",
            "embedding_type", "meta_description"}


def tokens(text):
    return [t for t in re.split(r"[^a-z0-9_]+", text.lower()) if t]


def listing_sql(web_pages_cte, page):
    """One listing page: pages whose null-strict `title domain url` text
    shares a token with the search term, sorted by the chosen column
    (descending puts nulls last, ascending first), then by id, with the
    total of matches on every row."""
    col = page["sort"] if page["sort"] in SORTABLE else "last_crawled"
    order = "%s ASC NULLS FIRST" % col if page["asc"] else "%s DESC NULLS LAST" % col
    terms = "[%s]" % ", ".join("'%s'" % t for t in tokens(page["term"]))
    return """WITH %s,
filtered AS (
  SELECT * FROM web_pages
  WHERE len(list_intersect(
    list_filter(string_split_regex(lower(title || ' ' || domain || ' ' || url), '[^a-z0-9_]+'), x -> x != ''),
    %s)) > 0)
SELECT (SELECT COUNT(*) FROM filtered) AS total,
  id, url, domain, title, CAST(epoch(last_crawled) AS BIGINT) AS crawled_s
FROM filtered
ORDER BY %s, id
LIMIT %d OFFSET %d""" % (web_pages_cte, terms, order, page["limit"], page["offset"])


# ---- ingest embeddings ------------------------------------------------------

def embedding_check(featurize_sql, sample):
    """Recompute the stored embeddings of `sample` (rows of a corpus) in
    DuckDB through the engine's featurizer SQL: text rows embed their
    content, vision rows the base64 of the bytes fetched for their url
    (md5 of the url), each featurized at model width and cut to 1024."""
    con = duckdb.connect()
    con.sql("SET threads TO 2")
    src = sample[["url", "content", "embedding_type"]].copy()
    con.register("sample_rows", src)
    got = con.sql("""WITH items AS (
        SELECT url AS k,
          CASE WHEN embedding_type = 'text' THEN content
               ELSE to_base64(unhex(md5(url))) END AS txt
        FROM sample_rows), %s
        SELECT k, v[1:1024] AS v FROM xfeat""" % featurize_sql).fetchall()
    want = dict(got)
    problems = []
    for url, emb in zip(sample["url"], sample["embedding"]):
        exp = want.get(url)
        if exp is None or len(exp) != len(emb) or \
                any(float(a) != float(b) for a, b in zip(emb, exp)):
            problems.append("%s: embedding differs from its recomputation" % url)
    return problems[:5]


def cached_files():
    return sorted(glob.glob(os.path.join(CACHE, "*.parquet")))
