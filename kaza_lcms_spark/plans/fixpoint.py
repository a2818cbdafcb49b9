"""The loop of the iterative operators (duplicate_clusters,
thin_points_exact): one eager checkpoint of one state table per round."""

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

log = logging.getLogger(__name__)


def fixpoint(op: str, state: DataFrame, step, max_rounds: int,
             flagged: str) -> DataFrame:
    """Run ``state = step(state)`` until no row has its boolean ``flag``
    set. The flag sum is observed on the checkpoint's own job; one log
    record (``op``, ``rounds``) per run. Raises after ``max_rounds``
    rounds, naming the last count of ``flagged`` rows."""
    n = None
    for rounds in range(1, max_rounds + 1):
        # not an Observation: it makes the session (and MLlib models) unserializable
        observed = step(state).observe("flagged", F.sum(F.col("flag").cast("long")))
        jdf = observed.localCheckpoint(eager=True)._jdf
        n = observed._jdf.queryExecution().observedMetrics().get("flagged").get().get(0)
        # the checkpoint keeps its plan's size estimate, which a step that
        # joins the state with itself squares every round (planning time
        # doubles per round): re-wrap its rows without the estimate
        state = DataFrame(state.sparkSession._jsparkSession.internalCreateDataFrame(
            jdf.queryExecution().toRdd(), jdf.schema(), False), state.sparkSession)
        if not n:
            log.info("%s converged in %d rounds", op, rounds,
                     extra={"op": op, "rounds": rounds})
            return state
    raise RuntimeError(
        f"{op} did not converge within {max_rounds} rounds: {n} {flagged} in "
        "the last round. Raise max_rounds: a partial fixpoint is not the answer.")
