"""The benchmark's workloads: one input size and one workspace each.

Every workload uses the FIXTURES.md bench shape (16 sources, one hot source
holding 50% of the rows), generated from the run's seed by the repository's
own fixture generator. Only the row count and the workspace differ. Why each
workload exists, and how its row count was chosen, is in jobbench/README.md.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Dict

from txtlogparser_spark.config import FilterSpec, WorkspaceConfig
from txtlogparser_spark.sources.fixtures import FixtureSpec, default_workspace

N_SOURCES = 16
HOT_FRACTION = 0.5


def _rare_route_workspace() -> WorkspaceConfig:
    # one filler vocabulary word: about 1.1% of rows carry it, so the
    # token prefilter drops ~99% of rows before the Python span stage
    return WorkspaceConfig(
        id=1,
        name="rare-route",
        filters=[
            FilterSpec(201, 0, "w0123", caseSensitive=True, wholeWord=True, regex=False),
        ],
        searches=[],
    ).validate()


@dataclass(frozen=True)
class Workload:
    name: str
    n_rows: int
    workspace: Callable[[], WorkspaceConfig]

    def spec(self, seed: int) -> FixtureSpec:
        return FixtureSpec(
            n_rows=self.n_rows,
            n_sources=N_SOURCES,
            # numpy seeds must lie in [0, 2**32); the generator also uses seed + 1
            seed=seed % 2**31,
            hot_fraction=HOT_FRACTION,
        )


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        Workload("wordlocal_hot", 30_000, default_workspace),
        Workload("rare_route", 50_000, _rare_route_workspace),
    )
}
