"""Adversarial graph fixture with an analytically known answer.

``onion_edges`` builds the deep-peel "onion" graph whose k-core is
known in closed form: the iterative ``kcore`` loop needs one round per
layer to peel it, and a hub node gives it a power-law degree head.
tests/test_round9.py checks ``kcore`` against that closed form and
against a brute-force peel.
"""

from __future__ import annotations


def onion_edges(spark, depth: int, m: int, k: int,
                clique: int = 64, hub_core_links: int = 40):
    """Deep-peel 'onion' graph with an analytically known k-core —
    the adversarial g07 fixture (VERDICT r8 item 1).

    Construction (directed pairs; callers mirror both orientations,
    the g07 convention, so degree = distinct neighbours):

    - ``depth`` layers of ``m`` nodes; layer-i node j links forward
      to ``fwd = k/2`` nodes of layer i+1 at ``(fwd*j + t) mod m``.
      With ``fwd | m`` every interior node has exactly fwd in + fwd
      out = k neighbours, so layer 0 (fwd < k) peels in round 1 and
      each later layer loses its lower support one round later: the
      peel takes exactly ``depth`` rounds — worst-case round count
      for the iterative kcore loop.
    - the last layer links into a ``clique``-node complete core that
      survives as the k-core (clique-1 >= k required).
    - a HUB links to every other layer node (power-law degree head:
      ~depth*m/2 distinct neighbours vs the median k — the hot
      semi-join key that survives EVERY round) and to
      ``hub_core_links >= k`` core nodes, so the hub itself ends in
      the final core.

    Expected k-core: the clique plus the hub — ``clique + 1`` nodes;
    within-core degrees: hub = hub_core_links, core node c =
    (clique-1) + (1 if c < hub_core_links).
    """
    from pyspark.sql import functions as F

    fwd = k // 2
    if m % fwd or clique % fwd or clique <= k or hub_core_links < k:
        raise ValueError("onion_edges: need fwd|m, fwd|clique, "
                         "clique>k, hub_core_links>=k")
    core_base = depth * m
    hub = core_base + clique
    idc = F.col("id")
    layers = spark.range((depth - 1) * m * fwd).select(
        ((idc / (m * fwd)).cast("bigint") * m
         + ((idc % (m * fwd)) / fwd).cast("bigint")).alias("src"),
        (((idc / (m * fwd)).cast("bigint") + 1) * m
         + (idc % (m * fwd)) % m).alias("dst"),
    )
    last = spark.range(m * fwd).select(
        (F.lit((depth - 1) * m) + (idc / fwd).cast("bigint")).alias("src"),
        (F.lit(core_base) + idc % clique).alias("dst"),
    )
    cl = spark.range(clique * clique).select(
        (idc / clique).cast("bigint").alias("a"),
        (idc % clique).alias("b"),
    ).where(F.col("a") < F.col("b")).select(
        (F.lit(core_base) + F.col("a")).alias("src"),
        (F.lit(core_base) + F.col("b")).alias("dst"),
    )
    hub_layer = spark.range(depth * m).where(idc % 2 == 0).select(
        F.lit(hub).cast("bigint").alias("src"), idc.alias("dst")
    )
    hub_core = spark.range(hub_core_links).select(
        F.lit(hub).cast("bigint").alias("src"),
        (F.lit(core_base) + idc).alias("dst"),
    )
    return layers.unionAll(last).unionAll(cl).unionAll(hub_layer) \
        .unionAll(hub_core)
