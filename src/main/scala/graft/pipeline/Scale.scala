package graft.pipeline

/** The engine's size gates — the one place that decides, from a count the
  * caller already makes, when a layer leaves its exact or driver-side
  * path for its scale-safe twin. These are the engine's choices, not the
  * user's: no facade takes a strategy override or a threshold.
  *
  *  - KNN ([[DataStore.makeGraph]], [[DataStore.runMapping]] via
  *    [[Mapping.project]], [[PtimeAgg.knnClustering]]): exact blocked
  *    top-k up to [[annMaxExactRows]] rows (O(n²) is trivially cheap
  *    there and recall is 1.0), the LSH-bucketed ANN above — the analogue
  *    of the reference's default HNSW index (scarf/ann.py:290-326).
  *  - Graph solvers ([[DataStore.runClustering]], [[DataStore.runUmap]],
  *    [[DataStore.runParis]], [[DataStore.getUnifiedUmap]]): the
  *    driver-side solvers over the collected n·k edge list below
  *    [[driverGraphMaxCells]] active (or unified) cells, the
  *    all-DataFrame (or sketched) paths at or above it. The t-SNE kernel
  *    ([[TsneLayout.layout]]) has no scale twin and refuses that many
  *    nodes.
  *  - [[graft.graph.Sketch.topacedo]]'s PCST connector pass collects the
  *    deduped edge list only up to [[pcstMaxDriverEdges]] edges.
  */
object Scale {

  /** Row count up to which KNN runs exact; ANN above it. */
  val annMaxExactRows: Long = 10000L

  /** Active-cell count from which the graph solvers leave the driver. */
  val driverGraphMaxCells: Long = 100000L

  /** Edge count up to which the PCST connector pass collects edges. */
  val pcstMaxDriverEdges: Long = 5000000L

  /** Whether a KNN over `rows` rows takes the LSH-bucketed ANN path. */
  def ann(rows: Long): Boolean = rows > annMaxExactRows

  /** Whether a graph over `activeCells` cells runs on the driver. */
  def driverGraph(activeCells: Long): Boolean = activeCells < driverGraphMaxCells

  /** Whether `edges` edges are few enough for the driver-side PCST. */
  def pcstOnDriver(edges: Long): Boolean = edges <= pcstMaxDriverEdges
}
