"""Routing kernel + scenario engines (criticality, EAUL).

The reference implements these with OSRM contraction hierarchies and
docker-in-docker rebuilds per scenario (scripts/criticality/,
script-eaul/). Here the graph is an immutable broadcast edge list and
each scenario is a numpy Dijkstra kernel call with a per-scenario edge
mask — no graph rebuilds; both engines fan scenarios out through
`resume.fan_out`.
"""
