"""Seeded NL traffic: question templates, request tags, the stub LLM provider.

Every timed question carries a tag (`` (ref bokuzi)``) spelled from
syllables that contain no planner keyword and no digit, so the tag makes
the string distinct (the result cache misses) without changing the plan;
``selftest.py`` checks that both planners emit the same SQL with and without
it. Warm-up and check questions use other tag words, so they never collide
with the timed pool.
"""

from __future__ import annotations

import bisect
import random
import re

SYLLABLES = ["bo", "ku", "zi", "mo", "lu", "fi", "go", "xu"]

DEPARTMENTS = ["IT", "HR", "Sales", "Marketing", "Finance", "Engineering", "Operations", "Legal"]


def tag(kind: str, index: int) -> str:
    """`` (<kind> <syllables>)``: the syllables spell ``index`` in base 8."""
    word = ""
    while True:
        index, digit = divmod(index, len(SYLLABLES))
        word = SYLLABLES[digit] + word
        if index == 0:
            return f" ({kind} {word})"


# -- the reference's 15 EXAMPLE_QUERIES, with their literals drawn from the seed
def _employee_templates(rng: random.Random) -> list[str]:
    lo = rng.randrange(30_000, 70_000, 500)
    return [
        "Show me all employees in the company",
        "Give me the list of all employees who joined last year",
        f"How many employees work in the {rng.choice(DEPARTMENTS)} department?",
        f"Show me employees with salary greater than {rng.randrange(30_000, 140_000, 250)}",
        "List all employees who joined this year",
        f"Find employees in the {rng.choice(DEPARTMENTS)} department",
        "Show me the highest paid employees",
        "Count of employees in each department",
        f"Employees who joined in {rng.randrange(2016, 2027)}",
        "Show me all employees with their salaries sorted by name",
        "Find all software engineers",
        f"Show me employees earning between {lo} and {lo + rng.randrange(10_000, 60_000, 500)}",
        f"List employees who have been with company for more than {rng.randrange(2, 10)} years",
        "Show me the average salary by department",
        "Find employees with Gmail addresses",
    ]


# -- the 17 star-SQL routes and the three batch operator routes
def _star_templates(rng: random.Random) -> list[str]:
    return [
        "What is the revenue by region?",
        "Show revenue per market segment",
        "What is the turnover per nation?",
        "What is the average order value?",
        "How many parts are in the catalog?",
        f"Who are the top {rng.randrange(3, 51)} customers by spending?",
        "How did order counts develop per year?",
        "Average order value by market segment",
        "How many suppliers do we have?",
        "Show document counts by language",
        f"What are the {rng.randrange(3, 31)} longest documents?",
        "How many documents per language clear the quality floor?",
        "How many exact duplicate documents does each source contain?",
        "What is the average document length in tokens per source?",
        "How many events per hour?",
        "Give me the event breakdown by type",
        f"Who are the {rng.randrange(3, 31)} most active users?",
        "Find near-duplicate document pairs",
        f"Show the {rng.randrange(3, 21)} documents most similar to document {rng.randrange(0, 2000)}",
        "Deduplicate the documents and keep the best copy of each duplicate cluster",
    ]


# -- "export" questions: only the stub LLM answers them
EXPORTS = [
    (r"Export every line item with quantity above (\d+)",
     "SELECT * FROM lineitem WHERE l_quantity > {0} ORDER BY l_orderkey, l_linenumber"),
    (r"Export all orders priced over (\d+)",
     "SELECT * FROM orders WHERE o_totalprice > {0} ORDER BY o_orderkey"),
    (r"Export the event log of users below (\d+)",
     "SELECT * FROM events WHERE user_id < {0} ORDER BY event_id"),
]


def _export_templates(rng: random.Random) -> list[str]:
    return [
        f"Export every line item with quantity above {rng.randrange(1, 40)}",
        f"Export all orders priced over {rng.randrange(1_000, 400_000, 1000)}",
        f"Export the event log of users below {rng.randrange(300, 1500)}",
    ]


def stub_llm(question: str, schema_text: str) -> str | None:
    """In-process LLM provider: a wide, ordered SELECT for export questions,
    ``None`` (defer to the rules) for everything else. Never touches the
    network."""
    for pattern, sql in EXPORTS:
        m = re.match(pattern, question)
        if m:
            return sql.format(*m.groups())
    return None


def rounds(workload: str, seed: int, n_rounds: int, kind: str = "ref"):
    """Yield ``n_rounds`` rounds of questions. A round holds every template
    of the workload once, in a seeded order with seeded literals; the star
    workload adds two export questions per round (~10% of its traffic).
    Tags number the questions across rounds, so no string repeats."""
    rng = random.Random(f"{workload}:{seed}:{kind}")
    index = 0
    for _ in range(n_rounds):
        if workload == "nl_employees":
            qs = _employee_templates(rng)
        else:
            qs = _star_templates(rng) + rng.sample(_export_templates(rng), 2)
        rng.shuffle(qs)
        out = []
        for q in qs:
            out.append(q + tag(kind, index))
            index += 1
        yield out


#: Template at each Zipf rank of the mixed pool (rank modulo its length):
#: the 15 employee templates, the 14 star templates that are neither a
#: revenue join nor an operator route, and the 3 export templates, in one
#: fixed shuffled order. The seed picks the literals, never which route a
#: rank is. The multi-second joins and operator routes are left out so that
#: the log write and the cache, not a few slow misses, set the pace.
MIXED_ORDER = [("emp", i) for i in range(15)] + [("star", i) for i in range(3, 17)] + [
    ("export", i) for i in range(3)]
random.Random("mixed-order").shuffle(MIXED_ORDER)


def mixed_pool(seed: int, size: int = 1200) -> list[str]:
    """``size`` distinct questions over employee and star traffic, in Zipf
    rank order. ``size`` exceeds the engine's result-cache capacity (1000
    entries)."""
    rng = random.Random(f"mixed:{seed}")
    make = {"emp": _employee_templates, "star": _star_templates, "export": _export_templates}
    pool = []
    for rank in range(size):
        kind, i = MIXED_ORDER[rank % len(MIXED_ORDER)]
        pool.append(make[kind](rng)[i] + tag("pool", rank))
    return pool


class ZipfSampler:
    """Rank ``r`` (0-based) is drawn with probability proportional to
    ``1 / (r + 1) ** s``. Thread-safe: each client owns its own sampler."""

    def __init__(self, n: int, seed: int | str, s: float = 1.1):
        self.rng = random.Random(seed)
        weights = [1.0 / (r + 1) ** s for r in range(n)]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def draw(self) -> int:
        return min(bisect.bisect_left(self.cdf, self.rng.random()), len(self.cdf) - 1)
