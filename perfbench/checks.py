"""Answer checks, each made apart from the engine.

* `compare_strict` compares an engine answer with a DuckDB answer the way
  the repository's strict oracle gate does: columns sorted by name, rows
  sorted, dtypes canonicalized (int widths, datetime units, DATE against
  midnight timestamps, None against NaN) and then required equal, floats
  compared bit for bit including the sign of zero.
* `IngestModel` is a newest-wins model of the corpus built from the
  generated items alone, and `check_corpus` compares a corpus the engine
  wrote with it.
"""
import datetime
from urllib.parse import urlsplit

import numpy as np
import pandas as pd


def _sortable(df):
    """Sorting needs hashable, comparable cells: lists and arrays become
    their string form for the sort key only."""
    key = df.copy()
    for c in key.columns:
        if key[c].dtype == object:
            key[c] = key[c].map(lambda v: None if v is None else
                                (repr(list(v)) if isinstance(v, (list, np.ndarray))
                                 else v))
            key[c] = key[c].astype(str)
    return key


def canon_sorted(df):
    df = canon_types(df)
    order = _sortable(df).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def canon_types(df):
    df = df.reindex(sorted(df.columns), axis=1).copy()
    for c in df.columns:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            try:
                s = s.dt.tz_localize(None)
            except (TypeError, AttributeError):
                pass
            df[c] = s.astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[c] = s.astype("int64")
        elif s.dtype == object:
            nn = s.dropna()
            if len(nn) and all(isinstance(v, datetime.date)
                               and not isinstance(v, datetime.datetime)
                               for v in nn):
                df[c] = pd.to_datetime(s).astype("datetime64[us]")
    return df


def compare_strict(engine, oracle):
    """None when equal, else a one-line reason."""
    a, b = canon_sorted(engine), canon_sorted(oracle)
    if list(a.columns) != list(b.columns):
        return "columns %s != %s" % (list(a.columns), list(b.columns))
    if len(a) != len(b):
        return "rows %d != %d" % (len(a), len(b))
    bad_types = [(c, str(a[c].dtype), str(b[c].dtype)) for c in a.columns
                 if str(a[c].dtype) != str(b[c].dtype)]
    if bad_types:
        return "dtypes %s" % bad_types
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x):
            xv, yv = x.to_numpy("float64"), y.to_numpy("float64")
            same = ((xv == yv) & (np.signbit(xv) == np.signbit(yv))) | \
                (np.isnan(xv) & np.isnan(yv))
            ok = bool(same.all())
        else:
            xs = x.where(x.notna(), None).map(_cell_str)
            ys = y.where(y.notna(), None).map(_cell_str)
            ok = bool((xs == ys).all())
        if not ok:
            return "values differ in column %s" % c
    return None


def _cell_str(v):
    if v is None:
        return "<null>"
    if isinstance(v, (list, np.ndarray)):
        return repr([_cell_str(x) for x in v])
    if isinstance(v, float):
        return repr(float(v))
    return str(v)


# ---- ingest -----------------------------------------------------------------

FIELDS = ["title", "meta_description", "content", "file_type", "embedding_type"]


def passes_guards(row):
    """The ingest task guards: a row needs a url, and text content unless
    it is an image."""
    return row["url"] is not None and (row["content"] is not None
                                       or row["file_type"] == "image")


class IngestModel:
    """Newest-wins corpus from the generated items: the backfill is
    version -1, staged file b is version b; a later version of a url
    replaces an earlier one, and rows the guards drop never enter."""

    def __init__(self, backfill, batches):
        self.rows = {}
        self.version = {}
        for v, rows in [(-1, backfill)] + list(enumerate(batches)):
            for r in rows:
                if passes_guards(r):
                    self.rows[r["url"]] = r
                    self.version[r["url"]] = v
        self.committed_per_round = sum(
            1 for rows in batches for r in rows if passes_guards(r))


def check_corpus(corpus, model, embed_check=None):
    """Problems found in `corpus` (a DataFrame of the engine's corpus) as
    one-line strings; empty when it matches the model."""
    problems = []
    urls = corpus["url"].tolist()
    if len(urls) != len(set(urls)):
        problems.append("duplicate urls")
    got, want = set(urls), set(model.rows)
    if got != want:
        problems.append("url set differs: %d missing, %d extra"
                        % (len(want - got), len(got - want)))
    stamps = {}
    for rec in corpus.to_dict("records"):
        url = rec["url"]
        exp = model.rows.get(url)
        if exp is None:
            continue
        for f in FIELDS:
            if rec[f] != exp[f] and not (rec[f] is None and exp[f] is None):
                problems.append("%s: %s is %r, newest is %r" % (url, f, rec[f], exp[f]))
                break
        if rec["domain"] != urlsplit(url).hostname:
            problems.append("%s: domain %r" % (url, rec["domain"]))
        if rec["embedding"] is None or len(rec["embedding"]) != 1024:
            problems.append("%s: embedding width" % url)
        stamps.setdefault(model.version[url], set()).add(pd.Timestamp(rec["last_crawled"]))
    prev = None
    for v in sorted(stamps):
        s = stamps[v]
        if len(s) != 1:
            problems.append("version %d carries %d distinct last_crawled" % (v, len(s)))
            break
        (t,) = s
        if prev is not None and not t > prev:
            problems.append("last_crawled of version %d is not after the one before" % v)
            break
        prev = t
    if embed_check is not None and not problems:
        problems.extend(embed_check(corpus))
    return problems[:5]
