"""The benchmark's workloads: which contract queries run on which data.

A workload is a list of cases, ``<query>@<dataset>``.  Each workload is a
closed loop with one client: one case is built, run to the noop sink, and
only then is the next one started.  The case order of every pass is a
permutation drawn from the run's ``--seed``.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
#: The checkout the benchmark measures, and the benchmark's work directory
#: in it (inputs, oracle digests, Spark's temporary files; git-ignored).
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")


@dataclass(frozen=True)
class Workload:
    name: str
    cases: tuple[str, ...]
    why: str

    def datasets(self) -> list[str]:
        return sorted({split_case(c)[1] for c in self.cases})


def split_case(case: str) -> tuple[str, str]:
    """``(query, dataset)`` of a ``<query>@<dataset>`` case."""
    query, dataset = case.split("@")
    return query, dataset


#: Input datasets under the work directory, with the row counts checked
#: before any timing.  ``sf0.1`` is generated by ``datagen``; ``sf0.4`` is
#: the repository's ``scripts/gen_testdata.py 4`` applied to it.
DATASETS: dict[str, dict[str, int]] = {
    "sf0.1": {"lineitem": 600_000, "documents": 5_000, "embeddings": 2_000},
    "sf0.4": {"lineitem": 2_400_000, "documents": 20_000, "embeddings": 8_000},
}



def dataset_dir(name: str) -> str:
    return os.path.join(WORK, "data", name)


#: Seed of the generated tables.  It is fixed, not the run's ``--seed``: the
#: oracle answers are computed once per dataset, and the run seed varies the
#: case order only.
DATA_SEED = 42

#: The scan each set-up runs once before timing starts.  It is in no
#: workload, so no measured query's plan is built before the timed window.
WARMUP = "q19_interp_len"

WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            name="expr_sf0.1",
            cases=tuple(f"{q}@sf0.1" for q in (
                "q01_project_arith",
                "q10_dt_components",
                "q11_time_components",
                "q12_set_time",
                "q14_add_duration",
                "q16_time_type",
                "q17_regex",
                "q18_substring",
                "q21_hash",
                "q24_dynamic_patterns",
                "q29_sqlgen_arrays",
                "x48_pipeline_yaml",
            )),
            why=(
                "spec or YAML to Columns to select on sub-second queries: "
                "lowering, the per-read schema job and the build job are a "
                "large share of latency; no table operator runs"
            ),
        ),
        Workload(
            name="ops_scale",
            cases=(
                "x154_pair_quality@sf0.1",
                "q09_duration_units@sf0.4",
            ),
            why=(
                "a table operator, where build-time jobs, shuffles and Python "
                "workers dominate, and q09 on 4x data, where the scan fan-out "
                "that fires on sf0.1 inputs does not"
            ),
        ),
    )
}
