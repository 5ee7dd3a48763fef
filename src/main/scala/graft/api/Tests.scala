package graft.api

import org.apache.spark.sql.functions.col

/** C22 — data tests as runtime objects (ref: `DbtTest` dispatch,
  * `/root/reference/projects/adapter/src/fal/dbt/integration/
  * project.py:94-172`: generic column-bound tests + singular SQL
  * tests). A test counts violations over the materialized model; the
  * runner executes a model's tests right after its write and promotes
  * the status to "tested" (ref `project.py:176-188`) or fails the node.
  */
final case class TestDef(
    name: String,
    model: String,
    violations: FalApi => Long)

object Tests {

  /** Generic `not_null` (schema.yml column test). */
  def notNull(model: String, column: String): TestDef =
    TestDef(s"not_null_${model}_$column", model,
      api => api.ref(model).filter(col(column).isNull).count())

  /** Generic `unique` (compiles to group-by-having like dbt's). */
  def unique(model: String, column: String): TestDef =
    TestDef(s"unique_${model}_$column", model,
      api => api.ref(model).groupBy(column)
        .count().filter(col("count") > 1).count())

  /** Generic `relationships`: every value of `column` must exist in
    * `refModel.refColumn` (anti-join violation count). The two sides are
    * aliased, so same-named key columns (`k` -> `parent.k`) resolve.
    */
  def relationship(model: String, column: String, refModel: String,
      refColumn: String): TestDef = {
    def side(alias: String, c: String) =
      col(s"$alias.`${c.replace("`", "``")}`")
    TestDef(s"relationships_${model}_${column}__$refModel", model,
      api => api.ref(model).as("child")
        .join(api.ref(refModel).as("parent"),
          side("child", column) === side("parent", refColumn), "left_anti")
        .count())
  }

  /** Generic `accepted_values` (ref jaffle fixture,
    * `cli_tests/projects/002_jaffle_shop/models/schema.yml:75` and
    * `models/staging/schema.yml:25,37`): a violation is a non-NULL
    * value outside the accepted set — dbt compiles `where column not
    * in (...)`, under which NULL is three-valued-logic filtered out,
    * so NULLs pass here too (pair with `not_null` to forbid them).
    */
  def acceptedValues(model: String, column: String,
      values: Seq[Any]): TestDef =
    TestDef(s"accepted_values_${model}_$column", model,
      api => api.ref(model)
        .filter(col(column).isNotNull && !col(column).isin(values: _*))
        .count())

  /** Singular test: any returned row is a violation (ref
    * `tests/customer_lifetime_value.sql`).
    */
  def singular(name: String, model: String,
      query: FalApi => org.apache.spark.sql.DataFrame): TestDef =
    TestDef(name, model, api => query(api).count())
}
