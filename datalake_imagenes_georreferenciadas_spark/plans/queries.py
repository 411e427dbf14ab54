"""The operator-coverage query registry — facade.

The @register bodies live in plans/q01_*.py ... q16_*.py (prelude and
helpers in plans/_qbase.py). Importing the segments below, in this
order, IS the registration order. This module holds the query-window
rotation machinery; query functions and helpers are imported from the
segment that defines them. See _qbase for the registry conventions
docstring.
"""

from __future__ import annotations

import os

from . import q01_j1  # noqa: F401
from . import q02_geo  # noqa: F401
from . import q03_ext  # noqa: F401
from . import q04_ext  # noqa: F401
from . import q05_training  # noqa: F401
from . import q06_training  # noqa: F401
from . import q07_north_star  # noqa: F401
from . import q08_north_star  # noqa: F401
from . import q09_north_star  # noqa: F401
from . import q10_round_7  # noqa: F401
from . import q11_round_7  # noqa: F401
from . import q12_round_7  # noqa: F401
from . import q13_round_7  # noqa: F401
from . import q14_r17  # noqa: F401
from . import q15_r18  # noqa: F401
from . import q16_r19  # noqa: F401
from ._qbase import ORACLES, QUERIES, QueryFn


# The external verify driver samples the FIRST 50 entries of ``queries()``
# each round. Rotation is SELF-MAINTAINING: any query that already has a
# fully-green row (rows+schema+hash) in some CORRECTNESS_r{N}.json — or a
# rows-only-by-design row (``err == 'no_oracle'``, which can never become
# fully green) — yields its slot to not-yet-verified (or previously red)
# names, so every round's 50-query window adds fresh externally-verified
# coverage. Unverified names are ordered priority-first (the LLM-pipeline
# composites + streaming exactly-once family — the headline claims);
# already-checked names follow, rotated by parsed-round count so
# once-green queries cycle back through the window for external
# RE-checks once the backlog clears (a later regression in a verified
# query is then re-caught externally, not only by the local oracle run).
# All queries stay locally checked via tools/verify_oracle.py regardless.

_PRIORITY_PREFIXES = (
    "pipeline_",
    "bm25_",
    "hybrid_",
    "graph_",
    "dedup_",
    "streaming_",
)


def _driver_check_state(repo: str | None = None) -> tuple:
    """(retired, n_rounds, last_round): names the front-50 window should
    skip — fully green in some round, or externally checked with ``err
    == 'no_oracle'`` (rows-only by design; they would otherwise pin 2
    of the 50 slots every round) — the count of parsed round files, and
    the STALENESS key: ``last_round[name]`` is the ROUND NUMBER parsed
    from the latest ``CORRECTNESS_r(\\d+).json`` filename whose row for
    ``name`` was fully green (or, for permanently rows-only names, the
    latest round with any row). Keying on the parsed round — not the
    file count (pre-r13 behavior) — means a missing round file (r06's
    is absent today) or a back-added one shifts nothing: round 12 is
    round 12 regardless of how many files survive on disk (r12 VERDICT
    wrong-item 3). A rows-only name that has since GAINED an oracle_sql
    entry is un-retired so the driver re-checks it at full strength
    (round-6: a5_approx_distinct and streaming_stateful_totals were
    converted to oracle-checkable form). ``repo`` overrides the
    CORRECTNESS_r*.json directory (tests)."""
    import glob
    import json
    import re

    if repo is None:
        repo = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    green_ever = set()
    rows_only = set()
    last_green: dict[str, int] = {}
    last_seen: dict[str, int] = {}
    n_rounds = 0
    for path in sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            # a malformed (list/scalar) round file must not break
            # all_queries() for every caller — skip it
            continue
        n_rounds += 1
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            last_seen[name] = max(last_seen.get(name, 0), rnd)
            green = (
                row.get("rows_match")
                and row.get("schema_match")
                and row.get("hash_match")
            )
            if green:
                green_ever.add(name)
                last_green[name] = max(last_green.get(name, 0), rnd)
            elif row.get("err") == "no_oracle":
                rows_only.add(name)
    retired = green_ever | {n for n in rows_only if n not in ORACLES}
    last_round = {
        n: last_green.get(n, last_seen.get(n, 0)) for n in retired
    }
    return retired, n_rounds, last_round


def _rotated(reg: dict, repo: str | None = None) -> dict:
    retired, _, last_round = _driver_check_state(repo)
    fresh = [n for n in reg if n not in retired]
    pri = [n for n in fresh if n.startswith(_PRIORITY_PREFIXES)]
    pri_set = set(pri)
    rest = [n for n in fresh if n not in pri_set]
    # STALENESS-FIRST re-check cycle (r08 VERDICT #3): once the fresh
    # backlog no longer fills the driver's 50-slot window, the
    # remaining slots re-check the names whose latest fully-green
    # driver row is OLDEST — early-round greens were checked on code
    # that has since been heavily refactored, so they are the highest
    # regression risk. Re-checked names get a new green row and move
    # to the back automatically, so the cycle sweeps the whole
    # registry every ~⌈N/50⌉ rounds with no stride bookkeeping.
    reg_pos = {n: i for i, n in enumerate(reg)}
    tail = sorted(
        (n for n in reg if n in retired),
        key=lambda n: (last_round.get(n, 0), reg_pos[n]),
    )
    return {n: reg[n] for n in pri + rest + tail}


def all_queries() -> dict[str, QueryFn]:
    return _rotated(dict(QUERIES))


def all_oracles() -> dict[str, str]:
    return _rotated(dict(ORACLES))
