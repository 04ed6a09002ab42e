"""The seeded request mix of the serve workloads.

One round is 17 `GET /-/beta` requests in four classes: 4 timeline, 7
search, 4 phrase, 2 malformed. Every round has the same slots, and each
slot fixes its operator, which filters it carries and its sort; the seed
picks the words, filter values and dates, and the order of the round.
The program sees only the generated query strings.

This is a coverage mix, one request per slot: no traffic data for the
program exists, so the class shares (24/41/24/12%) follow from how many
features each class covers, not from how often users send them. The
timeline, search (each sort, each facet filter) and malformed classes are
the request mix of ROADMAP.md direction A; the phrase class covers the
phrase, NEAR and `^` syntax of the program's query parser
(`graft.text.FtsQuery`). The benchmark's page figure, `class_p50_ms`,
weights the timeline, search and phrase classes equally (a geometric
mean of their medians), so the slot counts do not weight it.

Before timing, one untimed request per class (`WARMUP`, the same in
every run) fills the BM25 statistics cache and the JIT; its time counts
in set-up. A fuller warm-up, one untimed round of the same slots with
other words, left the page median unchanged (1.33 s against 1.36 s) and
added 20 s of set-up, so one request per class is kept.

The one slot that does not depend on the seed is the phrase of three
tokens: every phrase of three or more tokens fails over an index built
by `IndexCli` (the `sorted_intersect` type check rejects positions read
back from parquet), so that slot fails the same way in every run.
"""
import random
from urllib.parse import urlencode

from corpus import DOC_WORDS, EVENT_TYPES, EVENT_DAYS, SIZES

# Document words that also occur in orders rows would pull orders results,
# and with them the display_sql enrichment, into a slot at random; only
# the `rare` slot is meant to enrich.
WORDS = [w for w in DOC_WORDS if w not in ("order", "customer")]
# Prefixes left out of the `prefix` slot: the program matches a prefix
# unstemmed against Porter-stemmed terms, where FTS5 stems it first, so a
# prefix whose stem differs ("key" -> "kei", "has" -> "ha", "fas" -> "fa")
# finds other rows than the reference. That fault would fail only the
# seeds that draw these words.
PREFIX_WORDS = [w for w in WORDS if w[:3] not in ("key", "has", "fas")]

# Seed-independent: fails today in every run (see module docstring).
LONG_PHRASE = '"order for furniture"'

WARMUP = [
    ("timeline", {}),
    ("search", {"q": "data"}),
    ("phrase", {"q": '"big data"'}),
    ("malformed", {"q": '"warm up'}),
]


def round_requests(seed):
    """The requests of one round: dicts with the class, the slot name, the
    query string, the terms the engine scores the query by, and the
    expected response (`page` or `error`)."""
    rng = random.Random(seed)
    n_customers = SIZES["index"][3]
    w = rng.sample(WORDS, 12)
    etype = rng.choice(EVENT_TYPES)
    rare = f"{rng.randrange(n_customers):09d}"
    cat = str(rng.randint(1, 3))
    pub = str(rng.randint(0, 1))
    day = f"2024-01-{rng.randint(1, EVENT_DAYS):02d}"
    # (class, slot, params, positive terms: the terms the engine scores)
    reqs = [
        # timeline: no q; unfiltered, each facet filter, both sorts
        ("timeline", "plain", {}, []),
        ("timeline", "type", {"type": "tpch.db/orders", "sort": "oldest"}, []),
        ("timeline", "facet", {"category": cat, "is_public": pub}, []),
        ("timeline", "date", {"timestamp__date": day, "sort": "oldest"}, []),
        # search: hot and rare terms, boolean operators, prefix, column filter
        ("search", "hot", {"q": w[0]}, [w[0]]),
        ("search", "rare", {"q": rare}, [rare]),
        ("search", "and", {"q": f"{w[1]} AND {w[2]}", "is_public": pub}, [w[1], w[2]]),
        ("search", "or", {"q": f"{w[3]} OR {etype}", "category": cat, "sort": "newest"},
         [w[3], etype]),
        ("search", "not", {"q": f"{w[4]} NOT {w[5]}", "sort": "oldest"}, [w[4]]),
        ("search", "prefix", {"q": rng.choice(PREFIX_WORDS)[:3] + "*"}, []),
        ("search", "column", {"q": f"search_1:{w[7]}", "timestamp__date": day}, [w[7]]),
        # phrase: two tokens, NEAR, first token, and the failing long phrase
        ("phrase", "two", {"q": f'"{w[8]} {w[9]}"'}, [w[8], w[9]]),
        ("phrase", "near", {"q": f"NEAR({w[10]} {w[11]}, {rng.randint(2, 10)})",
                            "category": cat}, [w[10], w[11]]),
        ("phrase", "first", {"q": "^" + etype, "sort": "newest"}, [etype]),
        ("phrase", "long", {"q": LONG_PHRASE}, LONG_PHRASE.strip('"').split()),
        # malformed: an unbalanced quote takes the escape fallback; in raw
        # mode the same query must return the error page
        ("malformed", "escape", {"q": f'"{w[0]} {w[5]}'}, [w[0], w[5]]),
        ("malformed", "raw", {"q": f'"{w[0]} {w[5]}', "_searchmode": "raw"}, []),
    ]
    out = [{"cls": c, "slot": s, "query": urlencode(p), "terms": t,
            "expect": "error" if s == "raw" else "page"} for c, s, p, t in reqs]
    rng.shuffle(out)
    return out


def warmup_requests():
    return [{"cls": c, "slot": "warmup", "query": urlencode(p), "terms": [],
             "expect": "page"} for c, p in WARMUP]
