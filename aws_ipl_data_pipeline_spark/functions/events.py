"""Ball-event parsing as pure Column expressions.

Re-expresses the reference's row-at-a-time ``extract_runs`` loop
(reference pipeline_2026/ex_match_rb.py:44-125, applied via iterrows at
:179-181) as declarative Spark columns: literal-map lookups + chained
CASE WHEN. Everything stays JVM-side inside whole-stage codegen — no
Python in the hot path, so the parse scales linearly with partitions.

Semantics preserved exactly, including the reference's quirks:

* ``'5 wides'`` is special-cased to runs=4, extra_runs=1, extra_type
  'wide', rebowl=1 (ex_match_rb.py:87-92).
* The run-out detector ``'Run Out!' in ball_event`` can never fire
  because ``ball_event`` was lowercased first (ex_match_rb.py:73 vs 96)
  — effective behavior, replicated here: ``wicket_method`` is the 2nd
  token of the event and ``out_batsman`` is the striker
  (ex_match_rb.py:100-101). Set ``fix_run_out=True`` for the corrected
  semantics behind a flag.
* For extras, runs-off-extras come from the first ``;``-token of
  ``event_info`` when it names a run value (ex_match_rb.py:83-85).
"""

from __future__ import annotations

from itertools import chain

from pyspark.sql import Column
from pyspark.sql import functions as F

# reference ex_match_rb.py:46-54
RUN_MAP: dict[str, int] = {
    "no run": 0,
    "1 run": 1,
    "2 runs": 2,
    "3 runs": 3,
    "four": 4,
    "5 runs": 5,
    "six": 6,
}

# reference ex_match_rb.py:55-62 — values double as extra_runs AND rebowl,
# so byes/leg-byes are extras with 0 extra runs and no re-bowl.
EXTRAS_MAP: dict[str, int] = {
    "wide": 1,
    "no ball": 1,
    "no-ball": 1,
    "byes": 0,
    "leg byes": 0,
    "leg-byes": 0,
}


def _lit_map(d: dict[str, int]) -> Column:
    return F.create_map(*chain.from_iterable((F.lit(k), F.lit(v)) for k, v in d.items()))


def parse_ball_event(
    ball_event: Column | str = "ball_event",
    event_info: Column | str = "event_info",
    batsman: Column | str = "batsman",
    fix_run_out: bool = False,
) -> dict[str, Column]:
    """Columns for runs/extras/wicket fields derived from the event text.

    Returns a dict of named Columns; attach with ``df.withColumns(...)``.
    """
    ev = F.lower(F.col(ball_event) if isinstance(ball_event, str) else ball_event)
    info = F.lower(F.col(event_info) if isinstance(event_info, str) else event_info)
    bat = F.col(batsman) if isinstance(batsman, str) else batsman

    run_m = _lit_map(RUN_MAP)
    extras_m = _lit_map(EXTRAS_MAP)

    is_extra = ev.isin(list(EXTRAS_MAP))
    is_5w = ev == "5 wides"
    is_out = ev.startswith("out")

    # first ';'-token of the commentary may carry runs off the extra
    extra_event = F.split(info, ";").getItem(0)
    extra_event_runs = run_m[extra_event]

    base_runs = F.coalesce(run_m[ev], F.lit(0))
    runs = (
        F.when(is_extra, F.coalesce(extra_event_runs, base_runs))
        .when(is_5w, F.lit(4))
        .otherwise(base_runs)
    )
    extra_runs = (
        F.when(is_extra, extras_m[ev]).when(is_5w, F.lit(1)).otherwise(F.lit(0))
    )
    extra = F.when(is_extra | is_5w, F.lit(1)).otherwise(F.lit(0))
    extra_type = (
        F.when(is_extra, ev).when(is_5w, F.lit("wide")).otherwise(F.lit("N/A"))
    )
    rebowl = F.when(is_extra, extras_m[ev]).when(is_5w, F.lit(1)).otherwise(F.lit(0))
    wicket = F.when(is_out, F.lit(1)).otherwise(F.lit(0))

    second_token = F.split(ev, " ").getItem(1)
    if fix_run_out:
        # corrected semantics the reference intended (ex_match_rb.py:96-98)
        is_run_out = is_out & info.contains("run out")
        wicket_method = (
            F.when(is_run_out, F.lit("Run Out"))
            .when(is_out, F.coalesce(second_token, F.lit("Not Out")))
            .otherwise(F.lit("Not Out"))
        )
        out_batsman = F.when(is_out, bat).otherwise(F.lit("N/A"))
    else:
        # effective reference behavior: branch at ex_match_rb.py:96 is dead
        wicket_method = F.when(
            is_out, F.coalesce(second_token, F.lit("Not Out"))
        ).otherwise(F.lit("Not Out"))
        out_batsman = F.when(is_out, bat).otherwise(F.lit("N/A"))

    total_runs = runs + extra_runs

    return {
        "runs": runs.cast("int"),
        "extra_runs": extra_runs.cast("int"),
        "extra": extra.cast("int"),
        "extra_type": extra_type,
        "rebowl": rebowl.cast("int"),
        "wicket": wicket.cast("int"),
        "wicket_method": wicket_method,
        "out_batsman": out_batsman,
        "total_runs": total_runs.cast("int"),
    }
