"""The benchmark's workloads: which inputs each reads and which ops a pass
runs. Importing this module needs no Spark; `build_ops` imports the
package only when a run asks for its ops."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    inputs: tuple[str, float]   # (gen.ensure kind, scale)
    ops: tuple[str, ...]


# The CLI's nine pipelines (cli.PIPELINES) as registry entries. The cold
# pass runs them in this order, the flagship first.
ELECTION_PIPELINES = (
    "pipe_hung_councils", "pipe_list_of_hung_councils",
    "pipe_councils_won_by_party", "pipe_ward_votes_by_candidate",
    "pipe_pr_votes_by_party", "pipe_voter_turnout",
    "pipe_ward_votes_by_party", "pipe_seats_won",
    "pipe_ward_councillor_elected",
)

# Text/dedup family ops whose input is the whole corpus, in curation
# order: cleaning, MinHash near-dups, SimHash near-dups. The SimHash call
# is the full-table operator (its registry entry pins doc_id < 300).
CORPUS_OPS = (
    "pipe_training_data_prep", "dedup_minhash_lsh", "simhash_pairs_arrow",
)

WORKLOADS = {
    # the reference's nightly job: many short relational queries, so
    # per-query overhead (plan build, scheduling) dominates
    "election_night": Workload(("election", 0.1), ELECTION_PIPELINES),
    # per-row shingle, span and Arrow-UDF maps dominate; none of this code
    # runs in election_night, so a text/dedup change shows here only
    "corpus": Workload(("documents", 5_000), CORPUS_OPS),
}


def build_ops(names):
    """name -> fn(spark, data_dir) -> DataFrame, and name -> oracle SQL
    (None when the op has no DuckDB oracle)."""
    from sanef_election_dashboard_etl_spark.catalog import table
    from sanef_election_dashboard_etl_spark.operators import dedup
    from sanef_election_dashboard_etl_spark.queries import REGISTRY

    operator_calls = {
        "simhash_pairs_arrow": lambda spark, d: dedup.simhash_pairs_arrow(
            table(spark, d, "documents"), max_hamming=3),
    }
    fns, oracles = {}, {}
    for name in names:
        if name in operator_calls:
            fns[name], oracles[name] = operator_calls[name], None
        else:
            fns[name], oracles[name] = REGISTRY[name].fn, REGISTRY[name].oracle
    return fns, oracles
