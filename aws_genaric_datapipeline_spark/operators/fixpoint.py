"""The one fixpoint loop of the iterative graph operators.

Every loop in operators/graph.py — connected components (hash-min and
star), k-core, PageRank, label propagation, BFS and SSSP — runs through
:func:`iterate`.  This module is the only place where a graph operator
cuts lineage, tests for convergence or frees a checkpoint.

Cost model (measured, Spark 4.1, AQE on, local mode).  A round is cheap in
Catalyst terms; what costs is the number of Spark jobs, because on the
small, node-sized frames of a near-dup graph every job is mostly fixed
scheduling overhead.

* A lineage cut is ``localCheckpoint``, and under AQE a "lazy" one is not
  free: defining ``localCheckpoint(eager=False)`` executes the physical
  plan, and AQE runs every upstream shuffle stage as a job right then;
  only the final result stage waits.  A lazy cut over one ``groupBy``
  followed by an aggregate that reads it costs 1 + 2 jobs.  An eager cut
  of the same frame whose certificate rides the checkpoint job as an
  observed metric costs 2, and the certificate arrives with it.  So there
  is no lazy cut here: a cut is eager, and it is only taken where it pays.
* With a ``certificate`` (operators that run to convergence), every round
  is cut and the job that materializes the cut also computes the
  certificate (:class:`pyspark.sql.Observation`).  No separate probe job.
* Without one (operators with a fixed number of rounds), rounds are not
  cut at all, except every :data:`CUT_EVERY` rounds to keep the plan
  shallow.  That is only affordable because a step reads the previous
  state ONCE: uncut lineage then grows one join per round, where a step
  that read it twice (SSSP's old relax branch + union branch) doubles the
  logical tree every round and forced a cut per round.  Rounds that are
  cut (certificate runs) may scan the previous cut more than once — a
  scan of materialized blocks — which is what CC's pointer jump does.
* A static input that re-enters every round (the symmetrized edge list)
  is pinned once with :func:`pin`: one job (plus its shuffle stages) that
  truncates the edge-build subtree out of every later plan.

Lifetime.  A cut is a persisted RDD outside the cache manager, so
``spark.catalog.clearCache()`` does not free it; left alone, cuts pile up
across a long-lived session.  :func:`iterate` releases round r's cut as
soon as round r+1's cut has been materialized, and :func:`release` frees
the pinned inputs the returned frame does not read.  After an operator
returns, the only blocks left are the ones its result reads.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Observation

# Rounds between lineage cuts of a run without a certificate.
CUT_EVERY = 8


class Fixpoint(NamedTuple):
    frame: DataFrame
    converged: bool  # certificate unchanged from the previous round
    rounds: int


def pin(frame: DataFrame) -> DataFrame:
    """Materialize ``frame`` now and cut its lineage."""
    return frame.localCheckpoint(eager=True)


def iterate(
    step: Callable[[DataFrame, int], DataFrame],
    state: DataFrame,
    rounds: int,
    certificate: Sequence[Column] | None = None,
) -> Fixpoint:
    """Run ``state = step(state, i)`` for ``i = 1..rounds``.

    With ``certificate`` (aggregate columns over the state), the initial
    state and every round are cut, and the run stops at the first round
    whose certificate equals the previous round's (``converged``).
    Without it, all ``rounds`` run and the state is cut every
    :data:`CUT_EVERY` rounds.
    """
    if not certificate:
        cut = None
        for i in range(1, rounds + 1):
            state = step(state, i)
            if i % CUT_EVERY == 0:
                state = pin(state)
                release(None, cut)
                cut = state
        return Fixpoint(state, False, rounds)
    state, cert = _cut(state, certificate)
    for i in range(1, rounds + 1):
        nxt, nxt_cert = _cut(step(state, i), certificate)
        release(None, state)
        state = nxt
        if nxt_cert == cert:
            return Fixpoint(state, True, i)
        cert = nxt_cert
    return Fixpoint(state, False, rounds)


def release(result: DataFrame | None, *pinned: DataFrame | None) -> DataFrame | None:
    """Free the cuts among ``pinned`` that ``result`` does not read (all of
    them when ``result`` is None); return ``result``."""
    read = set()
    if result is not None:
        leaves = result._jdf.queryExecution().analyzed().collectLeaves()
        read = {
            leaf.rdd().id()
            for leaf in (leaves.apply(i) for i in range(leaves.size()))
            if leaf.nodeName() == "LogicalRDD"
        }
    for frame in pinned:
        rdd = _rdd(frame)
        if rdd is not None and rdd.id() not in read:
            rdd.unpersist(False)
    return result


def _cut(frame: DataFrame, certificate: Sequence[Column]) -> tuple[DataFrame, tuple]:
    """Pin ``frame``; the pinning job also computes the certificate."""
    obs = Observation()
    named = (c.alias(f"c{i}") for i, c in enumerate(certificate))
    cut = pin(frame.observe(obs, *named))
    return cut, tuple(obs.get.values())


def _rdd(frame: DataFrame | None):
    """The checkpointed RDD behind a cut, or None for any other frame."""
    if frame is None:
        return None
    plan = frame._jdf.queryExecution().analyzed()
    return plan.rdd() if plan.nodeName() == "LogicalRDD" else None

