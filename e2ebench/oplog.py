"""Seeded inputs for each workload: the corpus, the history and the op log.

Everything a run feeds the engine comes from here, so the same seed always
gives the same inputs. Ops are lines of tab-separated fields,
`phase kind field...`, where phase is `warm` (replayed, not timed) or
`timed`.
"""

import random

# Chat: 8 sessions, each opened with a history of earlier turns that is
# long enough for the W1 history window and the T5 trim to cut from the
# first turn on; then warm and timed turns round-robin.
CHAT_PRODUCTS = 5000
CHAT_SESSIONS = 8
CHAT_HISTORY_TURNS = 56
CHAT_WARM_TURNS = 8
CHAT_TIMED_TURNS = 16
CHAT_REPEAT_SHARE = 0.25

# Analytics: one pass over the headline queries, in a seeded order, on a
# fresh JVM; a warm-up pass would double a run's time.
ANALYTICS_QUERIES = [
    "q155_pagerank", "q299_quantile_regression", "q263_decision_stump",
    "q94_semantic_dedup", "q06_join_multiway", "q52_tpch_q3_topk",
    "q10_budget_window",
]
ANALYTICS_WARM_PASSES = 0
ANALYTICS_TIMED_PASSES = 1

WORDS = (
    "bike frame wheel tire saddle pedal chain brake gear shifter helmet glove "
    "jersey short sock bottle cage light lock pump rack fender bell mirror "
    "carbon aluminum steel titanium alloy road mountain touring city cargo "
    "gravel trail race sport comfort classic lite pro elite team junior "
    "black red blue white silver green orange yellow grey matte gloss small "
    "medium large tall wide narrow front rear left right light heavy fast "
    "quiet smooth durable waterproof breathable padded adjustable folding "
    "tubeless hydraulic disc rim clipless flat hybrid electric battery motor "
    "charger display sensor cadence speed power meter mount strap bag pannel "
    "order ship return warranty price discount stock size fit color model "
    "customer account review rating compare recommend need want looking for "
    "with without under over best cheap premium new used spare replacement"
).split()

CATEGORIES = [
    "Bikes, Mountain Bikes", "Bikes, Road Bikes", "Bikes, Touring Bikes",
    "Components, Brakes", "Components, Chains", "Components, Cranksets",
    "Components, Derailleurs", "Components, Forks", "Components, Handlebars",
    "Components, Pedals", "Components, Saddles", "Components, Wheels",
    "Clothing, Caps", "Clothing, Gloves", "Clothing, Jerseys", "Clothing, Shorts",
    "Accessories, Helmets", "Accessories, Lights", "Accessories, Locks",
    "Accessories, Bottles and Cages",
]


def _words(rng, n):
    return " ".join(rng.choice(WORDS) for _ in range(n))


def _product(rng, pid, cat):
    """One product row: id, categoryId, categoryName, sku, name,
    description, price. The name carries the id, so texts are unique."""
    return [pid, "c%02d" % cat, CATEGORIES[cat], "SKU-%s" % pid,
            "%s %s %s" % (rng.choice(WORDS).title(), rng.choice(WORDS), pid),
            _words(rng, rng.randint(18, 30)), "%.2f" % rng.uniform(5, 3500)]


# Short product and category questions, the shape of the reference's own
# examples ("What socks do you have?", "And helmets?").
PROMPTS = [
    "What {items} do you have?",
    "Do you have {color} {items}?",
    "And {items}?",
    "How much is the {name}?",
    "Tell me about the {name}.",
    "Is the {name} in stock?",
    "Which {items} are best for {use} riding?",
]
USES = ["road", "mountain", "city", "touring", "gravel", "winter"]
COLORS = ["black", "red", "blue", "white", "silver", "green"]


def _prompt(rng, corpus):
    p = rng.choice(corpus)
    return rng.choice(PROMPTS).format(
        items=p[2].split(", ")[1].lower(), color=rng.choice(COLORS),
        name=p[4], use=rng.choice(USES))


def chat(seed):
    """Returns (corpus, history, ops). `history` holds each session's
    earlier turns as `session prompt` rows; set-up writes them, with the
    echo client's answers, before the first op."""
    rng = random.Random("chat-%d" % seed)
    corpus = [_product(rng, "p%05d" % i, i % len(CATEGORIES))
              for i in range(CHAT_PRODUCTS)]
    sessions = ["s%d" % i for i in range(CHAT_SESSIONS)]
    history = [[s, _prompt(rng, corpus)] for s in sessions for _ in range(CHAT_HISTORY_TURNS)]
    asked = {s: [] for s in sessions}
    ops = []
    for t in range(CHAT_WARM_TURNS + CHAT_TIMED_TURNS):
        s = sessions[t % CHAT_SESSIONS]
        earlier = asked[s] or [p for ps in asked.values() for p in ps]
        if earlier and rng.random() < CHAT_REPEAT_SHARE:
            prompt = rng.choice(earlier)
        else:  # a prompt not asked before in this run
            prompt = _prompt(rng, corpus)
            while any(prompt in ps for ps in asked.values()):
                prompt = _prompt(rng, corpus)
        asked[s].append(prompt)
        ops.append(["warm" if t < CHAT_WARM_TURNS else "timed", "turn", s, prompt])
    return corpus, history, ops


def analytics(seed):
    rng = random.Random("analytics-%d" % seed)
    ops = []
    for n in range(ANALYTICS_WARM_PASSES + ANALYTICS_TIMED_PASSES):
        order = list(ANALYTICS_QUERIES)
        rng.shuffle(order)
        phase = "warm" if n < ANALYTICS_WARM_PASSES else "timed"
        ops += [[phase, q, str(n)] for q in order]
    return [], [], ops


def generate(workload, seed):
    """Returns (corpus rows, history rows, op rows)."""
    return {"chat": chat, "analytics": analytics}[workload](seed)


def write_tsv(path, rows):
    with open(path, "w", encoding="utf-8") as f:
        for r in rows:
            assert not any("\t" in x or "\n" in x for x in r), r
            f.write("\t".join(r) + "\n")
