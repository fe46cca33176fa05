"""Distributed operators: time-series analytics (resample, as-of join,
sessionization, gap fill, …) and LLM-data-pipeline operators (dedup,
similarity search, text analysis, multimodal plumbing)."""


def fixed_rounds_guard(op: str, rounds: int, limit: int = 12) -> None:
    """Loud call-time guard for FIXED-round iterative operators
    (sigma_clip, kcore, label_propagation, …): each round stacks
    windows/joins into ONE plan, so `rounds` is plan depth, not data
    passes — an accidental rounds=1000 builds a plan the analyzer
    chokes on long before any task runs (sigma_clip: 2 windows per
    round). These iterations are monotone/replayable by design, so
    rounds beyond convergence are pure no-op plan weight; fail
    loudly instead of compiling a pathological plan (the
    _bucket_count_guard convention, moved to call time because the
    parameter is a Python int known before planning). Every public
    caller (sigma_clip, kcore, label_propagation) plumbs the cap
    through as `max_rounds`, so a deliberate deeper run stays
    possible — the guard only refuses ACCIDENTAL depth."""
    if not isinstance(rounds, int) or rounds < 1 or rounds > limit:
        raise ValueError(
            f"{op}: rounds={rounds!r} outside [1, {limit}] — each "
            f"round is plan depth (windows/joins stacked in a single "
            f"plan), and the iteration is monotone so extra rounds "
            f"past the fixpoint change nothing. Pass a larger "
            f"`max_rounds` explicitly only if you accept the plan "
            f"cost."
        )
