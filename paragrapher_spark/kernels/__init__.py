from paragrapher_spark.kernels.betweenness import betweenness, harmonic_centrality
from paragrapher_spark.kernels.bfs import bfs
from paragrapher_spark.kernels.coloring import greedy_coloring
from paragrapher_spark.kernels.components import (
    bipartite_check,
    component_sizes,
    connected_components,
)
from paragrapher_spark.kernels.degrees import (
    avg_neighbor_degree,
    degree_distribution,
    in_degrees,
    out_degrees,
    rich_club,
    top_k_degrees,
)
from paragrapher_spark.kernels.hits import hits
from paragrapher_spark.kernels.hyperball import hyperball
from paragrapher_spark.kernels.katz import eigencentrality, katz
from paragrapher_spark.kernels.kcore import kcore
from paragrapher_spark.kernels.labelprop import label_propagation, modularity
from paragrapher_spark.kernels.matching import maximal_matching
from paragrapher_spark.kernels.neighborhood import assemble, neighbor_feature_agg
from paragrapher_spark.kernels.pagerank import pagerank
from paragrapher_spark.kernels.scc import condensation, scc
from paragrapher_spark.kernels.sssp import sssp
from paragrapher_spark.kernels.toposort import topo_levels
from paragrapher_spark.kernels.triangles import (
    clustering_coefficient,
    triangle_count,
    triangles_per_vertex,
)
from paragrapher_spark.kernels.linkpred import assortativity, link_prediction
from paragrapher_spark.kernels.coreness import coreness
from paragrapher_spark.kernels.ktruss import ktruss
from paragrapher_spark.kernels.mis import maximal_independent_set
from paragrapher_spark.kernels.walks import random_walks

__all__ = [
    "betweenness",
    "harmonic_centrality",
    "bfs",
    "greedy_coloring",
    "bipartite_check",
    "component_sizes",
    "connected_components",
    "avg_neighbor_degree",
    "degree_distribution",
    "in_degrees",
    "out_degrees",
    "rich_club",
    "top_k_degrees",
    "hits",
    "hyperball",
    "eigencentrality",
    "katz",
    "kcore",
    "coreness",
    "ktruss",
    "label_propagation",
    "maximal_independent_set",
    "maximal_matching",
    "modularity",
    "link_prediction",
    "assortativity",
    "assemble",
    "neighbor_feature_agg",
    "pagerank",
    "condensation",
    "scc",
    "sssp",
    "topo_levels",
    "clustering_coefficient",
    "triangle_count",
    "triangles_per_vertex",
    "random_walks",
]
