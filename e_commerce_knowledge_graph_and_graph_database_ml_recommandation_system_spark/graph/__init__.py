from .build import build_edges, build_nodes, graph_stats  # noqa: F401
