"""Routing kernel + scenario engines (criticality, EAUL).

The reference implements these with OSRM contraction hierarchies and
docker-in-docker rebuilds per scenario (scripts/criticality/,
script-eaul/). Here the graph is an immutable broadcast edge list; each
scenario is a row of a local DataFrame sliced into one partition per
task slot; one `mapInPandas` pass per partition runs a numpy Dijkstra
kernel with per-scenario edge masks — no graph rebuilds, no shuffle
before the kernel, scenarios parallelize across the cluster.
"""
