"""Seeded inputs of the benchmark's workloads.

Everything here is a pure function of the seed: the same seed gives the
same serve request stream and the same ingest items. The engine sees only
what these functions generate.
"""
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

# ---- serve -----------------------------------------------------------------

# The request types of the serve stream. No source in the repository
# describes the traffic a deployment sees, so the mix is not weighted: one
# round asks each type once. The listing page counts as one type per term
# class (LISTING_CLASSES), so every class is asked and checked each round.
SERVE_QUERIES = [
    "q8_dashboard", "q9_listing", "q10_semantic_search", "q11_snippet_search",
    "q12_rag_context", "q14_job_status_counts", "q15_job_lookup",
    "q57_knn_1024", "q95_phrase_search", "q117_rrf_fusion",
    "q135_stemmed_listing", "q201_hamming_rerank", "q202_maxsim_rerank",
]

# Listing search terms: words of the part names web_pages derives its titles
# from, site tokens of its domains, and one term that matches nothing.
LISTING_WORDS = ["small", "hot", "widget", "plate", "gear", "red", "blue",
                 "bolt", "large", "rod", "ring", "gizmo", "old", "cold",
                 "anvil", "new"]
LISTING_SORTS = ["last_crawled", "id", "url", "domain", "title",
                 "file_type", "embedding_type", "meta_description",
                 # unknown to the engine: it must fall back to last_crawled
                 "updated_at"]
PAGE_SIZE = 10
# The listing page's term classes: a single part-name word, a word pair, a
# site token, and a term that matches nothing. The seed fills each with a
# page; the classes stay fixed so the seed does not change a round's work.
LISTING_CLASSES = ["word", "pair", "site", "none"]


def listing_page(rng, cls):
    if cls == "word":
        term = rng.choice(LISTING_WORDS)
    elif cls == "pair":
        term = " ".join(rng.sample(LISTING_WORDS, 2))
    elif cls == "site":
        term = "d%d" % rng.randrange(20)
    else:
        term = "zzyzx"
    return {"term": term, "sort": rng.choice(LISTING_SORTS),
            "asc": rng.random() < 0.5, "offset": PAGE_SIZE * rng.randrange(4),
            "limit": PAGE_SIZE}


def listing_key(p):
    return "listing|%s|%s|%s|%d|%d" % (p["term"], p["sort"],
                                       "asc" if p["asc"] else "desc",
                                       p["offset"], p["limit"])


def serve_round(seed):
    """The request list of one round: one seeded listing page per term
    class and each serving query once, in seeded order."""
    rng = random.Random("serve-%d" % seed)
    pages = [listing_page(rng, cls) for cls in LISTING_CLASSES]
    reqs = [{"key": listing_key(p), "listing": p} for p in pages]
    reqs += [{"key": q, "query": q} for q in SERVE_QUERIES]
    rng.shuffle(reqs)
    return reqs


def serve_warmup():
    """Warm-up list: every request type once, with fixed listing pages
    that the seeded stream never asks for (offset 40 is past its pages)."""
    reqs = [{"key": q, "query": q} for q in SERVE_QUERIES]
    for term, sort in [("widget", "title"), ("gear", "id")]:
        page = {"term": term, "sort": sort, "asc": True, "offset": 40,
                "limit": PAGE_SIZE}
        reqs.append({"key": listing_key(page), "listing": page})
    return reqs


# ---- curate ----------------------------------------------------------------

CURATE_JOBS = [
    # near-dup pairs and groups
    "q23_jaccard_pairs", "q53_dedup_groups", "q145_cc_star",
    "q147_canonical_keep",
    # link-graph loops
    "q66_pagerank", "q94_triangles", "q110_hits",
    # 1024-d vector jobs
    "q27_embedding_near_dup", "q67_pq_ann", "q79_ivf_1024",
    # manifest build
    "q200_build_manifest",
]

# ---- ingest ----------------------------------------------------------------

BACKFILL_ITEMS = 3000     # rows of the corpus before the backlog
BACKLOG_FILES = 12        # staged files; one trigger each
BACKLOG_ITEMS = 60        # rows per staged file
WARMUP_FILES = 4
RECRAWL_SHARE = 0.3       # backlog rows that re-crawl an earlier url
SITES = 24
# (file_type, embedding_type, share)
FILE_MIX = [("html", "text", 0.70), ("pdf", "text", 0.15),
            ("image", "vision", 0.15)]
NULL_URL_SHARE = 0.02     # dropped by the task guards
NULL_CONTENT_SHARE = 0.03  # non-image rows without content: dropped too
BACKFILL_STAMP_MS = 1748736000000   # 2025-06-01T00:00:00Z

VOCAB = ("crawl spider page index fetch parse render queue worker retry "
         "sitemap robots link anchor header footer table image caption pdf "
         "scan text token vector embed model search rank score filter dedup "
         "shard merge window stream batch commit offset corpus domain host "
         "path query cache store write read green amber violet river stone "
         "cloud orbit signal").split()

PAGE_ITEM = pa.schema([
    ("url", pa.string()), ("title", pa.string()),
    ("meta_description", pa.string()), ("content", pa.string()),
    ("file_type", pa.string()), ("embedding_type", pa.string()),
])


def _words(rng, lo, hi):
    return " ".join(rng.choice(VOCAB) for _ in range(rng.randint(lo, hi)))


def _item(rng, url, ftype, etype):
    """One PageItem. Images mostly carry no text: the engine embeds their
    fetched bytes, so a null content does not drop them."""
    if rng.random() < NULL_URL_SHARE:
        url = None
    title = _words(rng, 2, 6) if rng.random() < 0.9 else None
    meta = _words(rng, 4, 10) if rng.random() < 0.7 else None
    if ftype == "image":
        content = _words(rng, 3, 8) if rng.random() < 0.3 else None
    elif rng.random() < NULL_CONTENT_SHARE:
        content = None
    else:
        content = _words(rng, 8, 40)
    return {"url": url, "title": title, "meta_description": meta,
            "content": content, "file_type": ftype, "embedding_type": etype}


def _new_url(rng, n, ftype):
    ext = {"html": "html", "pdf": "pdf", "image": "jpg"}[ftype]
    return "https://s%d.example/p/%d.%s" % (rng.randrange(SITES), n, ext)


def _pick_type(rng):
    r, acc = rng.random(), 0.0
    for ftype, etype, share in FILE_MIX:
        acc += share
        if r < acc:
            return ftype, etype
    return FILE_MIX[-1][:2]


def ingest_items(seed, files, tag):
    """(backfill rows, [rows of each staged file]) for one seed. A re-crawl
    keeps its url's file type and carries new content; no url appears twice
    in one file."""
    rng = random.Random("ingest-%s-%d" % (tag, seed))
    n = 0
    known = []                       # (url, ftype, etype) of earlier rows
    backfill = []
    for _ in range(BACKFILL_ITEMS):
        ftype, etype = _pick_type(rng)
        url = _new_url(rng, n, ftype)
        n += 1
        row = _item(rng, url, ftype, etype)
        backfill.append(row)
        if row["url"] is not None:
            known.append((url, ftype, etype))
    batches = []
    for _ in range(files):
        rows, seen = [], set()
        while len(rows) < BACKLOG_ITEMS:
            if rng.random() < RECRAWL_SHARE:
                url, ftype, etype = rng.choice(known)
                if url in seen:
                    continue
            else:
                ftype, etype = _pick_type(rng)
                url = _new_url(rng, n, ftype)
                n += 1
            row = _item(rng, url, ftype, etype)
            rows.append(row)
            if row["url"] is not None:
                seen.add(url)
                known.append((url, ftype, etype))
        batches.append(rows)
    return backfill, batches


def write_items(rows, path, mtime=None):
    pq.write_table(pa.Table.from_pylist(rows, schema=PAGE_ITEM), path)
    if mtime is not None:
        os.utime(path, (mtime, mtime))


def stage_ingest(seed, root):
    """Write the backfill file and the two staged backlogs (timed and
    warm-up) under root. Staged files get increasing modification times,
    the order the file source admits them in. Returns the spec fragment
    and the generated rows the model is built from."""
    backfill, batches = ingest_items(seed, BACKLOG_FILES, "timed")
    _, warm = ingest_items(seed, WARMUP_FILES, "warmup")
    os.makedirs(os.path.join(root, "backlog"))
    os.makedirs(os.path.join(root, "warmup_backlog"))
    write_items(backfill, os.path.join(root, "backfill.parquet"))
    for name, files in (("backlog", batches), ("warmup_backlog", warm)):
        for i, rows in enumerate(files):
            write_items(rows, os.path.join(root, name, "part-%03d.parquet" % i),
                        mtime=1700000000 + 10 * i)
    spec = {"backfill": os.path.join(root, "backfill.parquet"),
            "backlog": os.path.join(root, "backlog"),
            "warmup_backlog": os.path.join(root, "warmup_backlog"),
            "backfill_stamp_ms": BACKFILL_STAMP_MS}
    return spec, backfill, batches
