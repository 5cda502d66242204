"""The benchmark's workloads: one generated site shape plus one engine
configuration each. Sizes are fixed here; the run's ``--seed`` only reaches
``sitegen.SiteSpec(seed=...)``, so every seed yields a site of the same shape
(page count, rounds, fast rounds) with different titles, slugs and prices."""

from __future__ import annotations

from dataclasses import dataclass

HOST = "books.toscrape.com"

# robots.txt served for the host in polite_resume (and the rule set of the
# standalone robots pass on every workload): one category and the dangling
# "ghost" detail pages are off limits
ROBOTS_TXT = (
    "User-agent: *\n"
    "Disallow: /catalogue/category/books/travel_2/\n"
    "Disallow: /catalogue/ghost-\n"
)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    n_books: int
    books_per_page: int
    # "first": the reference's single seed /catalogue/page-1.html;
    # "listing": every listing page, in sorted-URL order
    seeds: str = "first"
    seen_filter: str = "bloom"
    host_budget: int | None = None
    robots: bool = False
    # write a checkpoint every round, drop the engine after this many rounds
    # and continue from CrawlEngine.resume()
    resume_after: int | None = None
    # scaled-down driver mirror cap (frontier.MIRROR_MAX_ROWS), so that the
    # seen+items working set outgrows the driver mirrors at a size that fits
    # the run; None leaves the engine's own cap
    mirror_max_rows: int | None = None
    # the untimed warm-up crawl stops after this many rounds: enough to run
    # every round kind (and the resume) once in the fresh JVM
    warmup_rounds: int = 2


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="drain_chain",
            why=(
                "the reference's own BFS from one seed: a long pagination "
                "chain of sub-512-row driver fast rounds, so per-round fixed "
                "cost dominates and the driver mirrors stay alive"
            ),
            n_books=300,
            books_per_page=30,
            warmup_rounds=4,
        ),
        Workload(
            name="bulk_levels",
            why=(
                "every listing page seeded: a few wide distributed rounds where "
                "fetch join, parse UDFs, canonicalize, anti-join and seq carry "
                "the load, and seen+items outgrow the driver mirror cap"
            ),
            n_books=2500,
            books_per_page=4,
            seeds="listing",
            mirror_max_rows=1 << 13,
        ),
        Workload(
            name="polite_resume",
            why=(
                "per-host budget above the fast gate, cuckoo seen filter, "
                "robots disallow table and a checkpoint every round, with a "
                "resume mid-crawl: the write-beside-read workload"
            ),
            n_books=300,
            books_per_page=50,
            seen_filter="cuckoo",
            host_budget=520,
            robots=True,
            resume_after=2,
            warmup_rounds=4,
        ),
    )
}
