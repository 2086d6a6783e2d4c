package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Reasons
import graft.functions.CrawlFunctions.ajaxRewriteUdf

/**
 * The pluggable stage library (O11/P1-P9) — the Spark re-expression of the
 * reference's config-driven pipeline of filter stages (reference:
 * src/main/scala/es/udc/scrawl/pipeline/Pipeline.scala:39-46 instantiates
 * the stage list from reference.conf:66-75; pluggable stages are a named
 * requirement, doc/Requisitos.md:15-23).
 *
 * Contract: a stage is a pure `DataFrame => DataFrame` over the wide
 * fetch-row schema (url, host, depth, retries, headers, f_status, f_ct,
 * f_body, outcome, reason, …). Stages must be ROW-PRESERVING on the
 * request/response leg: reject rows by tagging `outcome`/`reason`, never
 * by filtering them out — every claimed row must reach the outcomes
 * ledger or its frontier status is never updated (a stale InProgress
 * retry later) and the per-cycle accounting (deferred-politeness is
 * derived as drainable − drained − robots-deferred) is corrupted.
 * Result-leg stages prune the `links` array instead of dropping rows for
 * the same reason. The reference's bidirectional error channel
 * ("send to left" ⇒ exits the pipeline as Error) becomes the `outcome` /
 * `reason` column pair: `outcome IS NULL` means "still passing rightward";
 * a stage tags rows ERROR/RETRY (and must only touch rows still passing,
 * preserving upstream stages' verdicts — exactly the first-stage-wins
 * traversal order of the actor chain). After the fold the engine coalesces
 * the remaining NULLs to OK. The batch also carries the wave's robots.txt
 * responses (`depth = -1`), marked `outcome = "ROBOTS"` before the fold:
 * stages that touch only passing rows leave them unchanged, and the engine
 * turns them into robots rules, never into outcomes or links.
 *
 * Result-leg stages run on parsed rows carrying a `links` array column
 * (the reference result pipeline, MaxDepthFilter.scala:11-23).
 */
object Stages {

  type Stage = DataFrame => DataFrame

  /** P9 EmptyStage — identity pass-through (EmptyStage.scala:11-16). */
  val empty: Stage = identity

  /** rows not yet claimed by an upstream stage */
  private def passing = col("outcome").isNull

  /**
   * P7 RetryHttpError (RetryHttpError.scala:12-56): statuses in `codes` are
   * re-enqueued with retries+1 while retries < maxRetries, then fail with
   * HttpErrorMaxRetriesReached. (The reference's never-cleaned request map —
   * its memory leak at RetryHttpError.scala:42-46 — is deliberately not
   * replicated: retry state is the frontier `retries` column.)
   */
  def retryHttpError(codes: Set[Int], maxRetries: Int): Stage = df => {
    val hit = passing && col("f_status").isin(codes.toSeq: _*)
    df.withColumn("reason",
        when(hit && col("retries") >= maxRetries, lit(Reasons.maxRetriesReached))
          .otherwise(col("reason")))
      .withColumn("outcome",
        when(hit && col("retries") < maxRetries, lit("RETRY"))
          .when(hit, lit("ERROR"))
          .otherwise(col("outcome")))
  }

  /** P6 FilterHttpError (FilterHttpError.scala:11-27): statuses in `codes`
    * become Error(FilteredHttpCode(status)) and leave the pipeline. */
  def filterHttpError(codes: Set[Int]): Stage = df => {
    val hit = passing && col("f_status").isin(codes.toSeq: _*)
    df.withColumn("reason",
        when(hit, concat(lit("FilteredHttpCode("), col("f_status"), lit(")")))
          .otherwise(col("reason")))
      .withColumn("outcome", when(hit, lit("ERROR")).otherwise(col("outcome")))
  }

  /** P5 AjaxLinksTransform (AjaxLinksTransform.scala:14-52): `#!X` hrefs in
    * text/html bodies rewritten to `?_escaped_fragment_=urlencode(X)`;
    * non-HTML and already-failed rows untouched. */
  val ajaxRewrite: Stage = df => df.withColumn("f_body",
    when(passing, ajaxRewriteUdf(col("f_body"), col("url"), col("f_ct")))
      .otherwise(col("f_body")))

  /** P8 MaxDepthFilter (MaxDepthFilter.scala:11-23, result leg): pages at
    * depth >= max keep their fetch but lose their out-links (>= inclusive,
    * MaxDepthFilterTest.scala:39-61). */
  def maxDepth(max: Int): Stage = df => df.withColumn("links",
    when(col("depth") >= max, array()).otherwise(col("links")))
}
