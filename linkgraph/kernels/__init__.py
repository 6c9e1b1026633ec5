"""Iterative graph kernels — the engine's "queries" (SURVEY §2.4/§2.6).

pagerank        power iteration + dangling-mass redistribution (metric kernel)
pagerank_delta  faithful reproduction of the reference's frontier PR
                (/root/reference/src/algos.rs:169-295, quirks included)
cc              connected components via hash-min label propagation
bfs             frontier BFS (levels + min-parent tree) on
                frontier.py's `traverse`, the one level-synchronous loop
labelprop       community label propagation (most-frequent in-neighbor label)
triangles       triangle count via degree-ordered edge-intersection join;
                the triangle family's one enumerator (`triangles`)
msbfs           multi-source BFS (all lanes in one `traverse`) +
                sampled harmonic + closeness centrality rollups
coreness        full k-core decomposition: per-vertex core numbers +
                degeneracy via level-synchronous bucket peeling
                (Batagelj-Zaveršnik / Julienne KCore)
kcore           k-core membership via iterative peeling (loop.py's
                peel: anti-join removals over the bucketed edge state)
betweenness     sampled-source Brandes BC (laned `traverse` sigma sweep +
                level-synchronous backward dependency accumulation)
sssp            weighted single-source shortest paths (frontier
                Bellman-Ford over a weighted edge cache)
mis             maximal independent set (deterministic-priority
                parallel greedy; equals sequential greedy in key order)
coloring        iterated-MIS (Luby) coloring: layer c = priority-greedy
                MIS of the residual; proper, color(v) ≤ deg(v)
anf             approximate neighborhood function / effective diameter
                (Palmer et al. KDD'02 FM sketches, bit_or combine)
hits            Kleinberg hubs & authorities (two-phase L2-normalized
                power iteration, forward + transpose gathers)
katz            Katz attenuated-path centrality (x' = beta + alpha*Aᵀx,
                no degree normalization — pagerank's skeleton)
eigen           eigenvector centrality (power iteration toward the
                principal eigenvector of Aᵀ, L2-normalized)
salsa           Lempel-Moran SALSA (degree-normalized two-step random
                walks, L1-normalized — the who-to-follow kernel)
modularity      directed Leicht-Newman modularity Q of a partition
                (exact-int64 score path + double path for m > 3e9)
conductance     per-community cut conductance phi(S) = cut / min-side
                volume (exact-int64 counts, one final division)
random_walks    deterministic DeepWalk corpus (hash-argmin successor,
                bit-reproducible — skip-gram training-data op)
neighbor_sample deterministic GraphSAGE k-hop fanout sampling
                (hash-ranked without-replacement edge blocks)
negative_sample uniform-corruption negative edges for link-prediction
                training (hash-drawn non-neighbors, TransE-style)
condensation    SCC condensation DAG + longest-path topo levels
                (the web hierarchy view; Kahn layering by relaxation)
ppr             personalized PageRank / random walk with restart
                (seed-restricted teleport, dangling mass to seeds)
ppr_sweep       local community detection: ACL FOCS'06 sweep cut over
                degree-normalized PPR scores (min-conductance prefix)
spam_mass       TrustRank + VLDB'06 spam-mass estimate (pagerank and
                seed-PPR composed; rel_mass ~ 1 flags link spam)
scc             strongly connected components (trim + forward-max
                coloring + color-constrained backward sweep, Orzan)
bowtie          Broder bow-tie decomposition (CORE/IN/OUT/OTHER from
                the largest SCC + two multi-root reachability sweeps)
local_clustering per-vertex triangle counts + Watts-Strogatz local
                clustering coefficient (over triangles.py's enumerator)
link_prediction common-neighbors + Adamic-Adar scores for non-adjacent
                pairs (wedge self-join, center-degree skew guard)
densest_subgraph 2(1+eps)-approx densest subgraph by parallel peeling
                (Bahmani et al. VLDB'12; peel-round tags, argmax round)
graph_stats     one-row web-graph characterization: reciprocity,
                Newman degree assortativity, degree moments
degree_distribution log2-binned in/out-degree histogram (exact
                integer binning via length(bin(deg)) - 1)
power_law_alpha Hill MLE tail exponent of the degree distribution
                (Broder WWW'00 reports ~2.1 in / ~2.72 out)
ktruss          k-truss decomposition (edge-support peeling over
                triangles.py's edge_support, Cohen 2008)
ego_net         radius-k ego network + induced subgraph extraction
                (a `traverse` of <= radius levels, out/in/both walks)
maximal_matching parallel greedy maximal matching with deterministic
                edge priorities (equals sequential greedy in key order)
minimum_spanning_forest Borůvka MSF (unique under the strict (w,u,v)
                edge order; min-edge select + pointer-jump contraction)
edge_jaccard    per-edge neighborhood Jaccard / embeddedness
                (common neighbors = triangles.py's edge_support)
pagerank_weighted rank distributed proportionally to edge weight
                (href multiplicity on host graphs; row-normalized once)
resolve_redirects redirect-chain resolution over the functional crawl
                map (pointer doubling, O(log n) rounds, loop flagging)
"""

from linkgraph.kernels.pagerank import pagerank
from linkgraph.kernels.cc import connected_components
from linkgraph.kernels.bfs import bfs
from linkgraph.kernels.labelprop import label_propagation
from linkgraph.kernels.triangles import kclique_count, triangle_count
from linkgraph.kernels.pagerank_delta import pagerank_delta
from linkgraph.kernels.msbfs import (
    msbfs,
    harmonic_centrality,
    radii,
    closeness_centrality,
    landmark_distances,
    estimate_distances,
)
from linkgraph.kernels.kcore import kcore
from linkgraph.kernels.coreness import coreness
from linkgraph.kernels.betweenness import betweenness
from linkgraph.kernels.sssp import sssp
from linkgraph.kernels.mis import mis
from linkgraph.kernels.coloring import coloring
from linkgraph.kernels.anf import anf, effective_diameter
from linkgraph.kernels.hits import hits
from linkgraph.kernels.eigen import eigenvector_centrality
from linkgraph.kernels.katz import katz
from linkgraph.kernels.salsa import salsa
from linkgraph.kernels.modularity import community_stats, conductance, modularity
from linkgraph.kernels.louvain import louvain, louvain_moves, louvain_weighted
from linkgraph.kernels.walks import random_walks
from linkgraph.kernels.sampling import negative_sample, neighbor_sample, rw_sample
from linkgraph.kernels.condense import condensation
from linkgraph.kernels.ppr import ppr
from linkgraph.kernels.pprsweep import ppr_sweep
from linkgraph.kernels.spammass import spam_mass
from linkgraph.kernels.scc import scc
from linkgraph.kernels.bowtie import bowtie
from linkgraph.kernels.clustering import local_clustering
from linkgraph.kernels.linkpred import link_prediction
from linkgraph.kernels.densest import densest_subgraph
from linkgraph.kernels.redirects import resolve_redirects
from linkgraph.kernels.graphstats import (
    degree_distribution,
    graph_stats,
    attribute_assortativity,
    knn_curve,
    power_law_alpha,
    rich_club,
)
from linkgraph.kernels.truss import ktruss, trussness
from linkgraph.kernels.egonet import ego_net
from linkgraph.kernels.matching import maximal_matching
from linkgraph.kernels.msf import minimum_spanning_forest
from linkgraph.kernels.butterflies import butterfly_count
from linkgraph.kernels.nodesim import edge_jaccard
from linkgraph.kernels.pagerank_w import pagerank_weighted
from linkgraph.kernels.pseudodiam import pseudo_diameter
from linkgraph.kernels.node2vec import node2vec_walks

__all__ = [
    "pseudo_diameter",
    "rich_club",
    "attribute_assortativity",
    "rw_sample",
    "kclique_count",
    "node2vec_walks",
    "pagerank",
    "pagerank_delta",
    "connected_components",
    "bfs",
    "label_propagation",
    "triangle_count",
    "msbfs",
    "harmonic_centrality",
    "closeness_centrality",
    "radii",
    "kcore",
    "coreness",
    "betweenness",
    "sssp",
    "mis",
    "coloring",
    "anf",
    "effective_diameter",
    "hits",
    "katz",
    "eigenvector_centrality",
    "salsa",
    "modularity",
    "community_stats",
    "conductance",
    "louvain",
    "louvain_moves",
    "louvain_weighted",
    "random_walks",
    "neighbor_sample",
    "negative_sample",
    "condensation",
    "ppr",
    "ppr_sweep",
    "spam_mass",
    "scc",
    "bowtie",
    "local_clustering",
    "link_prediction",
    "densest_subgraph",
    "graph_stats",
    "degree_distribution",
    "power_law_alpha",
    "knn_curve",
    "resolve_redirects",
    "ktruss",
    "trussness",
    "landmark_distances",
    "estimate_distances",
    "ego_net",
    "maximal_matching",
    "minimum_spanning_forest",
    "edge_jaccard",
    "pagerank_weighted",
    "butterfly_count",
]
