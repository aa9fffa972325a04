package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Precedence-based taxonomy classifier
  * (coingecko_asset_attributes_pipeline.py:40-103) as a folded
  * when-chain builder — an ordered keyword map plus id overrides becomes
  * one Catalyst expression, codegen'd and pushed wherever the column is
  * used. No UDF (SURVEY.md §2.11).
  */
object Taxonomy {

  /** Build the classifier over an array-of-categories column: first tier
    * whose keyword appears (lowercased substring) in ANY element wins;
    * overrides win over everything; unmatched → fallback. */
  def classifyArray(categories: Column, tiers: Seq[(String, String)],
      overrides: Seq[(Column, String)] = Nil,
      fallback: String = "Uncategorized"): Column =
    classify(kw => exists(categories, c => lower(c).contains(kw)), tiers, overrides, fallback)

  /** Same over a single free-text column. */
  def classifyText(text: Column, tiers: Seq[(String, String)],
      overrides: Seq[(Column, String)] = Nil,
      fallback: String = "Uncategorized"): Column =
    classify(kw => lower(text).contains(kw), tiers, overrides, fallback)

  /** The shared when-chain: overrides first, then one branch per tier
    * whose keyword satisfies `matches`, then `fallback`. */
  private def classify(matches: String => Column, tiers: Seq[(String, String)],
      overrides: Seq[(Column, String)], fallback: String): Column = {
    val base: Column = overrides.foldLeft(Option.empty[Column]) {
      case (acc, (cond, label)) =>
        Some(acc.fold(when(cond, label))(_.when(cond, label)))
    }.getOrElse(when(lit(false), lit(null)))
    tiers.foldLeft(base) { case (acc, (kw, label)) =>
      acc.when(matches(kw), label)
    }.otherwise(fallback)
  }

  /** The reference's category map, ordered by precedence
    * (coingecko_asset_attributes_pipeline.py:45-80). */
  val referenceTiers: Seq[(String, String)] = Seq(
    "stablecoin" -> "Stablecoin",
    "layer 1" -> "Layer 1 (L1)",
    "layer 2" -> "Layer 2 (L2)",
    "decentralized finance" -> "DeFi",
    "defi" -> "DeFi",
    "exchange" -> "Exchange Token",
    "meme" -> "Meme",
    "gaming" -> "Gaming / Metaverse",
    "metaverse" -> "Gaming / Metaverse",
    "infrastructure" -> "Infrastructure",
    "oracle" -> "Infrastructure",
    "storage" -> "Infrastructure")
}
