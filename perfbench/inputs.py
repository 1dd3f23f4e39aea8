"""Seeded workload inputs and the expected ingest results.

Everything the client sends comes from here and from the seed alone: the
query order of every pass, and the ingest batch sequence (which listing
pages each batch reads, the detail pages of its listings, which listings
are re-scraped with a newer version, which rows arrive twice in one batch,
and which batch ids are re-delivered). The same seed gives byte-identical
inputs (see `inputs_bytes`).
"""
import json
import random
import re
from collections import Counter

BATCH = ["window_range_frame_bucketed", "dedup_pipeline", "dedup_minhash",
         "dedup_containment", "knn_cosine_topk", "bpe_encode", "ts_hampel_filter",
         "graph_pagerank"]

# ingest sizes. Fresh listing pages per batch: graft.sources.PageSource's
# default admission (pagesPerBatch = 1), 60 listings a page
# (PageSource.PerPage). Batches per pass: set by the run budget (README.md,
# Budget). The rest are assumptions, not
# measured: the repository holds no statistics of real scrapes, so re-read
# pages, re-scrape and double-offer shares and the replay period are chosen
# to exercise the upsert paths and are to be revisited once such statistics
# are in the repository.
BATCHES = 6
PAGES_PER_BATCH = 1
PER_PAGE = 60
REREAD_PAGES = 1      # assumption: earlier pages a batch reads again
RESCRAPE_SHARE = 0.3  # assumption: re-read listings that come back newer
TWICE_SHARE = 0.05    # assumption: rows offered twice in one batch
REPLAY_EVERY = 4      # assumption: every 4th batch id is re-delivered
PASS_ORDERS = 64

# the dictionary of graft.ops.SkillOps (terms, and variation -> canonical)
TERMS = ["spark", "query", "scan", "vector", "table", "row", "column", "key",
         "join", "merge", "sort", "filter", "agg", "group", "window", "hash",
         "sort merge", "hash join", "data", "batch", "stream", "value", "line",
         "part", "big", "small", "fast", "slow"]
VARIATIONS = {"sort merge": "sort", "hash join": "hash"}
OTHER_SKILLS = ["Excel", "Tableau", "Looker"]
FILLER = ["we", "use", "daily", "with", "our", "team", "in", "and", "for"]


def query_orders(names, seed):
    """One seeded shuffle of the query list per pass."""
    rng = random.Random(f"orders-{seed}")
    out = []
    for _ in range(PASS_ORDERS):
        order = list(names)
        rng.shuffle(order)
        out.append(order)
    return out


def job_id(g):
    return str(1000000 + g)


def listing_salary(g):
    """(min, max) monthly salary that graft.sources.PageSource's salary text
    for listing g parses to: "a zł", "a–b zł" or "h,50-k,50 zł/h" (x160)."""
    a, h = 3000 + (g % 170) * 100, 100 + g % 50
    return [(a, a), (a, a + 2000), (160 * h + 80, 160 * (h + 20) + 80)][g % 3]


def detail(rng):
    """One detail page and what parsing it must give: (html, employer, yoe,
    tier, skills). Tier 1: two or more items in the skills list; tier 2: one
    item, the rest found in the description bullets."""
    employer = f"Firm {rng.randrange(40)}"
    yoe = rng.randint(1, 5)
    if rng.random() < 0.8:
        items = rng.sample(TERMS, rng.randint(1, 3))
        if rng.random() < 0.3:
            items.append(rng.choice(OTHER_SKILLS))
        if len(items) < 2:
            items.append(rng.choice([t for t in TERMS if t not in items]))
        bullet_terms = []
    else:
        items = [rng.choice(TERMS)]
        bullet_terms = rng.sample([t for t in TERMS if t not in items], 2)
    shown = [t.capitalize() if rng.random() < 0.5 else t for t in items]
    bullets = []
    for t in bullet_terms:
        words = rng.sample(FILLER, 3)
        words.insert(rng.randrange(4), t)
        bullets.append(" ".join(words))
    html = ('<div class="offer">'
            f'<h2 data-test="text-employerName">{employer}</h2>'
            f'<div data-test="sections-benefit-experience">{yoe} years of experience</div>'
            '<ul data-test="aggregate-open-dictionary-model">'
            + "".join(f"<li>{t}</li>" for t in shown) + "</ul>"
            '<ul data-test="aggregate-bullet-model">'
            + "".join(f"<li>{b}</li>" for b in bullets) + "</ul></div>")
    f1 = {t.lower() for t in items}
    tier = 1 if len(f1) >= 2 else 2
    found = set(f1)
    if tier == 2:
        text = " ".join(bullets)
        found |= {w for w in text.split() if w in TERMS and " " not in w}
        found |= {m for m in TERMS if " " in m and re.search(rf"\b{m}\b", text)}
    matched = {t for t in found if t in TERMS}
    skills = sorted(matched | {c for v, c in VARIATIONS.items() if v in found})
    return html, employer, yoe, tier, ",".join(skills)


def ingest_plan(seed):
    """The seeded batch sequence of one pass. Each batch reads
    PAGES_PER_BATCH fresh pages and, from the second batch on, re-reads
    REREAD_PAGES seeded earlier pages: each listing of those comes back with
    a newer version and new content with probability RESCRAPE_SHARE, else
    unchanged. Each new version is offered twice in its batch, with two
    versions, with probability TWICE_SHARE. Batch ids at a seeded phase of
    REPLAY_EVERY are re-delivered once, before the next batch."""
    rng = random.Random(f"ingest-{seed}")
    phase = rng.randrange(REPLAY_EVERY)
    current = {}  # g -> (version, html, expected row)
    batches, offered = [], []
    for b in range(BATCHES):
        lo, hi = b * PAGES_PER_BATCH, (b + 1) * PAGES_PER_BATCH - 1
        old = sorted(rng.sample(range(lo), min(REREAD_PAGES, lo)))
        listings = [p * PER_PAGE + i for p in list(range(lo, hi + 1)) + old
                    for i in range(PER_PAGE)]
        rows, batch_rows = [], []
        for g in listings:
            if g in current and rng.random() >= RESCRAPE_SHARE:
                versions = [current[g]]  # re-offered unchanged
            else:
                v = current[g][0] + 1 if g in current else 1
                versions = [(v,) + detail(rng)]
                if rng.random() < TWICE_SHARE:
                    versions.append((v + 1,) + detail(rng))
            for v, html, employer, yoe, tier, skills in versions:
                rows.append([job_id(g), v, html])
                lo_s, hi_s = listing_salary(g)
                batch_rows.append((g, (v, html, employer, yoe, tier, skills),
                                   [job_id(g), v, f"offer-{g}", employer, yoe,
                                    lo_s, hi_s, tier, skills]))
        for g, cur, _ in batch_rows:
            if g not in current or cur[0] > current[g][0]:
                current[g] = cur
        offered.append([r for _, _, r in batch_rows])
        replay = b - 1 if b > 0 and (b - 1) % REPLAY_EVERY == phase else -1
        batches.append({"id": b, "lo": lo, "hi": hi, "old": old, "replay": replay,
                        "rows": rows})
    plan = {"pages": BATCHES * PAGES_PER_BATCH, "batches": batches}
    return plan, offered


def expected_states(offered):
    """After each batch: the latest version of every listing offered so far
    (computed here, independently of the program) and its skill counts."""
    state, out = {}, []
    for rows in offered:
        for r in rows:
            if r[0] not in state or r[1] > state[r[0]][1]:
                state[r[0]] = r
        table = sorted(state.values())
        counts = Counter(s for r in table for s in r[8].split(","))
        out.append((table, sorted([k, n] for k, n in counts.items())))
    return out


def workload_inputs(workload, seed):
    """The inputs the client receives for one run."""
    if workload == "ingest":
        plan, _ = ingest_plan(seed)
        return {"ingest": plan, "queries": [], "orders": []}
    return {"queries": BATCH, "orders": query_orders(BATCH, seed)}


def inputs_bytes(workload, seed):
    return json.dumps(workload_inputs(workload, seed), sort_keys=True).encode()
