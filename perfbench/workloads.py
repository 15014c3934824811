"""The workloads: their sizes and the seeded op lists the JVM runs.

Each op is one line of `ops.tsv`: pass number, kind, then the kind's
arguments, tab-separated. The engine sees only these calls; the seed
picks them.
"""
import numpy as np

# Ad-hoc declared queries over the raw tables (dashboard), and the
# analytics jobs of the nightly batch cycle: incremental basket-rule
# mining served from a standing index (eager, driver-sequenced jobs) and
# the stream-stream click attribution (EventStream).
DASHBOARD_QUERIES = [
    "q02_filter_project", "q13_share_of_total", "q14_rollup", "q16_pivot",
    "q18_pagination", "q20_search", "q21_point_lookup", "q75_keyset_pagination"]
PAGES = ["lastUpdate", "clusterSummary", "clusterStats", "brandRollup", "clusterPivot"]
SORT_COLS = ["profit", "part_id", "profit_margin", "average_unit_price", "nunique_customer",
             "product_name", "selling_duration", "list_price"]
SEARCH_WORDS = ["small", "red", "blue", "hot", "old", "large", "cold", "new",
                "ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
BATCH_QUERIES = ["q162_incremental_basket_rules", "q79_stream_stream_join"]

# Per workload: source scale factor, and ops per pass. A pass is the
# unit of fixed work: a dashboard deck, or one batch cycle. wall_s is
# the median time of a pass, and a run ends at a pass boundary.
CONFIG = {
    "dashboard": {"sf": 0.01, "pass_ops": len(DASHBOARD_QUERIES) + 2 * len(PAGES) + 32},
    "batch": {"sf": 0.01, "pass_ops": 2 + len(BATCH_QUERIES)},
}
DASHBOARD_DECKS = 12
BATCH_CYCLES = 4


def _search_pool(rng):
    """One search variant per sort column, stratified so that every seed
    gets the same mix: half ascending, half with a cluster filter, and a
    quarter with no text, half with a word, a quarter with a number. The
    seed pairs these up and picks the words, numbers, clusters and pages,
    so the latency median does not depend on which mix a seed drew.
    """
    n = len(SORT_COLS)
    kinds = rng.permutation(["empty"] * (n // 4) + ["word"] * (n // 2) + ["number"] * (n // 4))
    filtered = rng.permutation([True, False] * (n // 2))
    asc = rng.permutation([1, 0] * (n // 2))
    pool = []
    for col, kind, f, a in zip(SORT_COLS, kinds, filtered, asc):
        text = ("" if kind == "empty" else SEARCH_WORDS[rng.integers(len(SEARCH_WORDS))] if kind == "word"
                else str(rng.integers(0, 100)))
        cluster = str(rng.integers(0, 4)) if f else ""
        pool.append(["search", text, cluster, col, str(a), str(rng.integers(0, 5))])
    return pool


def ops(workload, seed):
    """The op list for `workload` as rows of strings."""
    rng = np.random.default_rng([seed, 1])
    if workload == "dashboard":
        # a deck has a fixed mix, in a seeded order: every declared query
        # once, every page load twice and each of the 8 seeded search
        # variants 4 times (64% searches, 20% page loads, 16% queries)
        pool = _search_pool(rng)
        deck = ([["q", q] for q in DASHBOARD_QUERIES] + [["svc", p] for p in PAGES] * 2 +
                pool * (32 // len(pool)))
        return [[str(d)] + deck[i] for d in range(DASHBOARD_DECKS)
                for i in rng.permutation(len(deck))]
    if workload == "batch":
        # each cycle: EtlJob.run, ClusteringJob.run, then the analytics
        # jobs, in a fixed order (a cold JVM charges shared JIT and codegen
        # warm-up to whichever runs first); the seed picks the data
        return [[str(c), kind] + args for c in range(BATCH_CYCLES)
                for kind, args in [("etl", []), ("clustering", [])] + [("q", [q]) for q in BATCH_QUERIES]]
    raise ValueError(workload)


def write_ops(path, workload, seed):
    with open(path, "w") as f:
        for row in ops(workload, seed):
            f.write("\t".join(row) + "\n")
