package graft.streaming

import graft.similarity.{KnnGraph, Pq}
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Incremental k-NN GRAPH maintenance — the graph counterpart of
  * [[StreamingIndexIngest]]'s frozen-quantizer IVF append, and the way
  * production graph indexes actually grow: an HNSW insert IS a search —
  * beam-search the arriving vector's k nearest over the CURRENT stored
  * graph, then link mutually (both edge directions, the undirected
  * store contract). Each micro-batch appends its new edges
  * bucket-partitioned, so freshly inserted nodes are reachable (and
  * servable) as soon as the batch commits, and the search-side
  * partition pruning is untouched.
  *
  * Contract: the [[KnnGraph.writeVectors]] store at `vecPath` holds a
  * vector for every graph node, and each batch appends its arrivals'
  * vectors there. Entry points for the insert search come from that
  * store's ≤slots-row `_graft_entries` sidecar — bounded, index-sized
  * metadata, never the corpus.
  *
  * Why this shape survives 100 TB: an insert touches O(beam·k·steps)
  * vectors + ≤ beam buckets of the k·n edge list — corpus-size-free,
  * like serving; the append is |batch|·k·2 rows. No state store, no
  * rebuild. A periodic offline rebuild (the durable [[KnnGraph.build]])
  * re-tightens what greedy insertion loosens — the same freeze/refresh
  * rhythm as the IVF family, and StreamingGraphInsertSpec bounds the
  * drift: streamed-inserted serving stays within a recall floor of the
  * full rebuild. */
object StreamingGraphIngest {

  /** Start the insertion stream: (vec_id, v: array<double>) arrivals →
    * mutual k-NN edges appended under `storePath`, and the arrivals'
    * vectors appended into the [[KnnGraph.writeVectors]] store at
    * `vecPath`, so store-only serving ([[KnnGraph.serveFromStores]])
    * can answer them with no corpus frame anywhere. When `codes` =
    * (codesPath, codebook) is set, the arrivals' flat-PQ codes append
    * into the [[KnnGraph.writeCodes]] sidecar too — required if the
    * graph is served through the quantized head
    * ([[KnnGraph.serveFromStoresPq]]), whose ADC rank inner-joins that
    * store: without the append, inserted nodes would silently never be
    * kept or answered by it. */
  def start(newVecs: DataFrame, storePath: String, vecPath: String,
      k: Int, beamRounds: Int, checkpointDir: String,
      trigger: Option[Trigger] = None,
      codes: Option[(String, Seq[Seq[Seq[Double]]])] = None): StreamingQuery = {
    val writer = newVecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        insertBatch(batch.toDF(), storePath, vecPath, k, beamRounds, codes)
      }
    trigger.fold(writer)(writer.trigger).start()
  }

  /** One batch of insertions — also the batch-mode backfill API.
    * Sequencing is per micro-batch: arrivals in the SAME batch search
    * the pre-batch graph (they link to each other only via later
    * arrivals or the next rebuild), exactly like a bulk HNSW insert at
    * one sequence point. */
  def insertBatch(batch: DataFrame, storePath: String, vecPath: String,
      k: Int, beamRounds: Int,
      codes: Option[(String, Seq[Seq[Seq[Double]]])] = None): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (batch.isEmpty) return
    // STORE-ONLY insert: a micro-batch is coordinator-sized by the
    // trigger contract, and an HNSW insert IS a coordinator-driven
    // search — serve through the COORDINATED head (two pruned
    // point-reads per beam round for the whole batch), warm-started
    // at each arrival's best node among the store's ENTRY
    // REPRESENTATIVES ([[KnnGraph.writeHashEntries]] — the ≤slots-row
    // sidecar every writeVectors store carries, erase-aware). The
    // sidecar is the insert path's ONLY driver-resident state
    // besides the batch itself: entry selection never collects a
    // corpus-sized bucket.
    val arrivals = batch.select($"vec_id", $"v")
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.toArray }.toSeq
    // a store written before the sidecar existed (or populated by
    // raw bucket appends) backfills it here, ONCE — one
    // executor-side pass, never a driver collect; a
    // present-but-drained sidecar still fails loudly inside
    // serveCoordinated's entry resolution (that state is an erasure
    // decision, not a missing artifact). Entry selection is the
    // coordinated head's own default: best sidecar representative
    // per arrival by (cosine, -node).
    KnnGraph.ensureHashEntries(spark, vecPath)
    val nbrPairs = KnnGraph.serveCoordinated(spark, storePath, vecPath,
      arrivals, k, beamRounds)
    // publish AFTER the searches, EDGES FIRST: a crash between the two
    // appends then leaves edges pointing at a vector-less node — which
    // every reader already treats as absent (scoring inner-joins the
    // vector store), and which can never be sampled as an entry (entry
    // samples come from the vector store). The reverse order would
    // surface an edgeless node to entry sampling. Replayed micro-batch
    // retries may append duplicate rows; readers dedup (expansion is
    // distinct, vector fetches are distinct), so retries are safe at
    // the answer level — storage-level exactly-once belongs to a
    // snapshot-backed store. Appends follow each store's RECORDED
    // bucket count (a modulus mismatch would silently mis-prune).
    appendHashed(nbrPairs.toDF("src", "nbr")
      .union(nbrPairs.map(_.swap).toDF("src", "nbr")), "src", storePath)
    appendHashed(batch.select($"vec_id", $"v"), "vec_id", vecPath)
    // the PQ codes sidecar appends LAST: a crash window leaves a node
    // with a vector but no code — invisible to the quantized head's
    // ADC rank (recall-only degradation the next refine/rebuild
    // republishes), while every exact loop already serves it; codes
    // use the FROZEN codebook like the IVF family's frozen quantizers.
    codes.foreach { case (cp, cb) => appendCodes(batch, cp, cb) }
  }

  /** Append the batch's flat-PQ codes into a [[KnnGraph.writeCodes]]
    * sidecar under its RECORDED bucket count — the codes-last step both
    * ingest arms share (the append order is the crash-window contract;
    * one definition keeps the hash and clustered paths in lockstep). */
  private def appendCodes(batch: DataFrame, codesPath: String,
      cb: Seq[Seq[Seq[Double]]]): Unit = {
    import batch.sparkSession.implicits._
    appendHashed(Pq
      .pqEncode(batch.select($"vec_id", $"v"), cb, cb.head.head.length),
      "vec_id", codesPath)
  }

  /** Append rows to a hash-layout store under its RECORDED bucket count
    * (`bucket = pmod(key, buckets)`) — a writer/reader modulus mismatch
    * would silently mis-prune. */
  private def appendHashed(rows: DataFrame, key: String, path: String): Unit =
    rows.withColumn("bucket", pmod(col(key),
        lit(KnnGraph.openStore(rows.sparkSession, path).buckets.toLong)).cast("int"))
      .write.mode("append").partitionBy("bucket").parquet(path)

  /** [[insertBatch]] for the CLUSTERED layout
    * ([[KnnGraph.writeStoreClustered]]): arrivals search the current
    * store through [[KnnGraph.serveFromStores]]'s clustered default —
    * the fully store-resident warm head (stored entry
    * points — no corpus frame, no entry sampling scan), link mutually,
    * and append with CARRIED buckets — each new edge row records its
    * source's routing cell as the partition and its neighbor's cell in
    * `nbr_bucket`, so the walk's no-dictionary invariant survives
    * ingestion. Arrival cells come from [[Pq.nearestCol]] over
    * the batch's own vectors; neighbor cells from one bounded
    * (|batch|·k) point-fetch of the vector store. Edges publish before
    * vectors — the same crash-window ordering as the hash path (a
    * vector-less node can be expanded into but never answered or
    * sampled). When `codes` = (codesPath, codebook) is set, the
    * arrivals' flat-PQ codes append LAST into the [[KnnGraph
    * .writeCodes]] sidecar (the hash arm's contract: required when the
    * store is served through a quantized head, whose ADC rank
    * inner-joins that sidecar). */
  def insertClusteredBatch(batch: DataFrame, storePath: String,
      vecPath: String, k: Int, beamRounds: Int,
      codes: Option[(String, Seq[Seq[Seq[Double]]])] = None): Unit = {
    val spark = batch.sparkSession
    import spark.implicits._
    if (batch.isEmpty) return
    val cents = KnnGraph.centroidsOf(spark, storePath)
    val queries = batch.select($"vec_id".as("qid"), $"v")
    val found = KnnGraph.serveFromStores(spark, storePath,
        vecPath, queries, k, beamRounds)
      .as[(Long, Long)].collect()
    val newCell = batch
      .select($"vec_id", Pq.nearestCol($"v", cents).as("c"))
      .as[(Long, Int)].collect().toMap
    val nbrCell = KnnGraph.fetch(KnnGraph.openStore(spark, vecPath),
        found.map(_._2).distinct.toSeq.toDF("node"))
      .select($"vec_id", Pq.nearestCol($"v", cents).as("c"))
      .as[(Long, Int)].collect().toMap
    val rows = found.flatMap { case (newId, nbr) =>
      Seq((newId, nbr, nbrCell(nbr), newCell(newId)),
        (nbr, newId, newCell(newId), nbrCell(nbr)))
    }.distinct.toSeq
    rows.toDF("src", "nbr", "nbr_bucket", "bucket")
      .write.mode("append").partitionBy("bucket").parquet(storePath)
    appendHashed(batch.select($"vec_id", $"v"), "vec_id", vecPath)
    codes.foreach { case (cp, cb) => appendCodes(batch, cp, cb) }
    // FRESH ARRIVALS PUBLISH AS ENTRIES of their own cell (r15 — the
    // FreshDiskANN freshness idea applied at the sidecar layer): a
    // just-inserted node has out-edges to its true neighborhood but
    // only the k back-edges this batch wired, so whether a beam can
    // step INTO it depends on walk length and how its neighborhood
    // ranks — freshness by lottery. Appending the arrival to
    // `_graft_entries` makes it servable BY CONSTRUCTION: a query
    // routed to its cell starts at it, lands it in the pool, and the
    // exact re-rank does the rest (ComposedGraphStoreSpec pins append
    // + serve + erase-drop). Request-sized rows; the next writeEntries
    // refresh (a reprune/rebuild publishing a new version) resets the
    // sidecar to the n-scaled density, by which time the re-prune has
    // given the node real in-link coverage. Erase drops sidecar rows,
    // so a retracted arrival can't linger. The append rides KnnGraph's
    // staged-swap sidecar mutator (per-store lock + snapshot + rename)
    // — a bare mode("append") into the live dir would race a
    // concurrent erase's read-then-rename and silently lose this
    // arrival's entry row (r15 advice, closed).
    KnnGraph.appendEntryRows(spark, storePath,
      newCell.toSeq.toDF("node", "cid")
        .select($"cid", $"node", $"cid".as("node_bucket")))
  }
}
