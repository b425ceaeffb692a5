"""Graph layer: property-graph model, MATCH/TRAVERSE translation, algorithms.

Reference: engine/src/main/java/com/arcadedb/graph/GraphEngine.java:66
stores adjacency as per-vertex edge linked lists ("no joins but links");
the Spark re-expression is two DataFrames — ``vertices(rid, label, props…)``
and ``edges(type, out_rid, in_rid, props…)`` — where adjacency is an
equi-join that Catalyst turns into broadcast or shuffle joins as sizes
dictate.  The OLAP CSR view (graph/olap/CSRBuilder.java) maps to a cached
edge DataFrame pre-partitioned by source vertex, and, for a graph that fits
in the driver, to numpy CSR arrays (graph/local.py).
"""
