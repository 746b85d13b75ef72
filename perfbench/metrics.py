"""Statistics and correctness checks of the benchmark, kept free of
Spark so they can be unit-tested on their own."""
import math
import statistics
from collections import Counter

# A percentile is reported only when at least this many samples lie
# beyond it, so p50 needs 20 samples, p95 200 and p99 1000.
MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile: the ceil(p*n)-th smallest value.

    Returns (value, n), or (None, n) when fewer than MIN_BEYOND samples
    lie beyond the rank.
    """
    n = len(values)
    if n == 0:
        return None, 0
    rank = max(1, math.ceil(p * n))
    if n - rank < MIN_BEYOND:
        return None, n
    return sorted(values)[rank - 1], n


def median(values):
    return statistics.median(values) if values else None


def lateness_ms(due_ms, landed_ms):
    """How late each arrival landed relative to its due time."""
    return [landed - due for due, landed in zip(due_ms, landed_ms)]


def file_latencies_ms(due_ms, rows, commits):
    """Per-file latency from due time to commit.

    `commits` is [(commit_ms, rows_in_batch)] in batch order. Files are
    admitted in order, so file i is committed by the first batch whose
    cumulative row count reaches the rows staged through file i. A file
    no batch covers gets None.
    """
    out, cum, k, committed = [], 0, 0, 0
    commits = [c for c in commits if c[1] > 0]
    for due, r in zip(due_ms, rows):
        cum += r
        while k < len(commits) and committed < cum:
            committed += commits[k][1]
            k += 1
        out.append(commits[k - 1][0] - due if committed >= cum and k > 0 else None)
    return out


def check_relay(input_ids, output_ids, injected):
    """Relay delivery check on msg-ids.

    `input_ids` are the msg-ids of every input row, redeliveries
    included; `output_ids` those the sink holds; `injected` is the number
    of redelivered rows the generator put in. Returns a list of failure
    messages (empty when the output is exactly the distinct input).
    """
    fails = []
    want, got = Counter(input_ids), Counter(output_ids)
    lost = set(want) - set(got)
    extra = set(got) - set(want)
    repeated = [m for m, c in got.items() if c > 1]
    dups = [m for m, c in want.items() if c > 1]
    if lost:
        fails.append(f"{len(lost)} events lost, e.g. {sorted(lost)[0]}")
    if extra:
        fails.append(f"{len(extra)} msg-ids not in the input, e.g. {sorted(extra)[0]}")
    if repeated:
        fails.append(f"{len(repeated)} msg-ids delivered more than once, e.g. {sorted(repeated)[0]}")
    injected_seen = sum(want[m] - 1 for m in dups)
    if injected_seen != injected:
        fails.append(f"input holds {injected_seen} redelivered rows, generator injected {injected}")
    unsuppressed = [m for m in dups if got.get(m, 0) > 1]
    if unsuppressed:
        fails.append(f"{len(unsuppressed)} injected duplicates not suppressed")
    return fails
