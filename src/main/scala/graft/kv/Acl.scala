package graft.kv

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** AccessController read-path enforcement — the grant-table half of
  * HBase security, next to [[Visibility]]'s label half.
  *
  * Reference semantics (hbase-server/.../security/access/
  * AccessController.java:299 `permissionGranted`, walking
  * TableAuthManager's cached `_acl_` rows): a read is authorized iff a
  * READ grant COVERS it at some level of the hierarchy — global (table
  * NULL), table (family NULL), family (qualifier NULL), or the exact
  * qualifier — and DENIED by default when no grant covers it. The
  * reference short-circuits per request; re-expressed relationally the
  * same walk becomes per-cell masking: keep exactly the cells some
  * covering grant reaches.
  */
object Acl {

  /** Mask `cells` down to what `user` may read from `table`.
    *
    * `grants` is the `_acl_` system table: (grantee, tbl, family,
    * qualifier, perm), NULL = "whole level below" exactly as the
    * reference stores it (AccessControlLists.java — the `_acl_` row
    * per table, qualifier per grantee). perm is the action string
    * ("R", "RW", ...); cover requires 'R'.
    *
    * Plan shape: the user's relevant grants (a handful of rows after
    * the grantee+table filter) BROADCAST beside the scan; the NULL-
    * wildcard hierarchy makes the cover test inherently non-equi, so
    * enforcement is a broadcast left-semi nested-loop — the data side
    * streams straight from the scan with NO shuffle, each cell
    * evaluated against the in-memory grant list, which is precisely
    * what a regionserver's AuthManager cache does per cell batch. */
  /** The user's covering grants for one action — ONE copy of the
    * grantee/perm/table filter every enforcement path shares (a
    * grant-semantics change must land once, not be hand-synced).
    * `action` is the single-letter Action code ('R' read, 'W' write)
    * matched inside the perm string, exactly the reference's
    * Permission#implies action test. */
  private def userGrants(grants: DataFrame, user: String,
                         table: String, action: String): DataFrame =
    grants
      .where(col("grantee") === user && instr(col("perm"), action) > 0 &&
        (col("tbl").isNull || col("tbl") === table))
    .select(col("family").as("_gf"), col("qualifier").as("_gq"))

  private def userReadGrants(grants: DataFrame, user: String,
                             table: String): DataFrame =
    userGrants(grants, user, table, "R")

  /** The hierarchy cover predicate over [[userReadGrants]]' columns. */
  private def cover =
    (col("_gf").isNull || col("_gf") === col("family")) &&
      (col("_gq").isNull || col("_gq") === col("qualifier"))

  def enforceRead(cells: DataFrame, grants: DataFrame,
                  user: String, table: String): DataFrame =
    cells.join(broadcast(userReadGrants(grants, user, table)), cover,
      "left_semi")

  /** WRITE-path enforcement — the prePut/preDelete half of
    * AccessController (hbase-server/.../security/access/
    * AccessController.java:1647 `prePut`, :1691 `preDelete`, both
    * calling `permissionGranted(..., Action.WRITE)` at :1661/:1706): a
    * mutation is authorized iff a WRITE grant covers every cell it
    * touches at some hierarchy level — global, table, family, or exact
    * qualifier — and DENIED by default. Re-expressed per-op over a
    * mixed put/delete batch: each op row gets the per-op result slot
    * of HTable.batch (the `batch_partial_failure` outcome shape),
    * ACCEPT when covered, DENY otherwise — denied ops fail ALONE,
    * their batch-mates still land.
    *
    * Cover is STRICTER than the read path's on wildcards in the OP
    * (the preDelete comment in the reference: a delete must hold WRITE
    * on ALL cells it covers, since compaction can drop prior
    * versions): an op with a NULL qualifier (family-wide delete)
    * touches every qualifier in the family, so a qualifier-level
    * grant cannot cover it — only family-or-above grants do. A
    * qualifier-level op is covered by any level down to its exact
    * qualifier, like reads.
    *
    * Plan shape: ONE pass over the op stream with NO shuffle on the op
    * side. The user's few covering grants (the AuthManager cache) are
    * collected into a one-row array and broadcast beside the op stream
    * (a nested-loop join against that single row); each op row then
    * tests `exists` over the array. A cover test that is NULL counts
    * as not covered, exactly as in a semi/anti join.
    *
    * @param ops one row per mutation op: at least (family, qualifier)
    *            — qualifier NULL = whole-family op; all columns pass
    *            through with `outcome` appended. */
  def enforceWrite(ops: DataFrame, grants: DataFrame,
                   user: String, table: String): DataFrame = {
    val g = userGrants(grants, user, table, "W")
      .agg(collect_list(struct(col("_gf"), col("_gq"))).as("_g"))
    val writeCover = (gr: Column) =>
      (gr("_gf").isNull || gr("_gf") === col("family")) &&
        (gr("_gq").isNull ||
          (col("qualifier").isNotNull && gr("_gq") === col("qualifier")))
    ops.crossJoin(broadcast(g))
      .withColumn("outcome", when(exists(col("_g"), writeCover), "ACCEPT").otherwise("DENY"))
      .drop("_g")
  }

  /** Cell-level ACL read enforcement (hbase-server/.../security/access/
    * AccessController.java — HBASE-7662's per-cell ACLs: Mutation#setACL
    * writes a serialized perm list as a cell TAG, and the read path
    * authorizes a cell when the table/family/qualifier hierarchy check
    * fails but the cell's own ACL grants READ). Composition, exactly
    * the reference's check order: a cell is visible iff a hierarchy
    * grant covers it ([[enforceRead]]) OR its `cell_acl` tag names the
    * user with 'R'.
    *
    * Plan shape: the OR is materialized as two DISJOINT broadcast
    * joins — hierarchy cover via the left-semi, cell-only grants via a
    * left-ANTI against the same broadcast grant list (cells whose tag
    * matches but that no hierarchy grant reaches) — so the union never
    * needs a dedup shuffle; both sides stream from the scan.
    *
    * @param cells must carry a `cell_acl` string column,
    *              "user:perms" or NULL (the tag payload). */
  def enforceReadCellAcls(cells: DataFrame, grants: DataFrame,
                          user: String, table: String): DataFrame = {
    val g = userReadGrants(grants, user, table)
    // the perms live in the SECOND colon field — exactly like the
    // oracle's split_part(cell_acl, ':', 2). A colon-less tag has no
    // second field (default-deny: a tag equal to a username containing
    // 'R' must not authorize), and a multi-colon tag "carol:junk:R"
    // must read "junk", not the LAST field — substring_index(-1) took
    // the last, so appending ':R' to any tag authorized it (the r11
    // review's default-deny violation, invisible to the oracle gate
    // because split_part already read field 2)
    val fields = split(col("cell_acl"), ":")
    val cellOk = col("cell_acl").isNotNull &&
      size(fields) >= 2 &&
      element_at(fields, 1) === user &&
      instr(element_at(fields, 2), "R") > 0
    val byHierarchy = cells.join(broadcast(g), cover, "left_semi")
      .withColumn("acl_source", lit("table"))
    val byCell = cells.where(cellOk)
      .join(broadcast(g), cover, "left_anti")
      .withColumn("acl_source", lit("cell"))
    byHierarchy.unionByName(byCell)
  }
}
