import org.apache.spark.sql.catalyst.expressions.BinaryComparison;
import org.apache.spark.sql.catalyst.expressions.Expression;
import org.apache.spark.sql.catalyst.expressions.Literal;
import org.apache.spark.sql.catalyst.expressions.objects.Invoke;
import org.apache.spark.sql.catalyst.planning.GenericStrategy;
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.execution.FilterExec;
import org.apache.spark.sql.execution.SparkPlan;
import org.apache.spark.sql.execution.SparkStrategy;
import org.apache.spark.sql.execution.joins.BaseJoinExec;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.ObjectType;
import scala.Function1;
import scala.Option;
import scala.collection.Iterator;
import scala.collection.immutable.Nil$;
import scala.collection.immutable.Seq;
import scala.runtime.AbstractFunction1;
import scala.runtime.AbstractPartialFunction;

/**
 * A planner strategy that plans each logical node as the session's
 * other strategies do, then holds the literal operands of comparisons
 * in filter and join conditions by reference.
 *
 * Whole-stage codegen writes int, long, double, date and timestamp
 * literals into the generated Java source, and Spark caches compiled
 * classes by that source, so every new literal value compiles new
 * classes. A literal of an object type is read from the generated
 * class's references array instead, so {@code x > Invoke(Literal(5,
 * ObjectType(Integer)), "intValue")} compiles to the same source for
 * every value.
 *
 * Only the returned physical operators change. Scan pushed filters,
 * partition filters and in-memory batch pruning are derived by the
 * delegated strategies from the logical plan and keep real literals.
 * Literals anywhere else stay literal: some expressions read
 * {@code foldable} when they run (a rounding scale, a format).
 *
 * Compiled in-process by Janino, which takes erased signatures only.
 */
public class ParamLiterals extends SparkStrategy {

    public Seq apply(LogicalPlan plan) {
        Iterator strategies = SparkSession.active().sessionState().planner()
            .strategies().iterator();
        while (strategies.hasNext()) {
            GenericStrategy strategy = (GenericStrategy) strategies.next();
            if (strategy == this) continue;
            Seq planned = strategy.apply(plan);
            if (planned.nonEmpty()) return (Seq) planned.map(CANDIDATE);
        }
        return Nil$.MODULE$;
    }

    private static final AbstractFunction1 CANDIDATE = new AbstractFunction1() {
        public Object apply(Object plan) {
            return ((SparkPlan) plan).transformUp(CONDITIONS);
        }
    };

    /** Filter and join operators, with their condition rewritten. */
    private static final AbstractPartialFunction CONDITIONS = new AbstractPartialFunction() {
        public boolean isDefinedAt(Object node) {
            return node instanceof FilterExec || node instanceof BaseJoinExec;
        }

        public Object applyOrElse(Object node, Function1 otherwise) {
            if (node instanceof FilterExec) {
                return rewrite((SparkPlan) node, ((FilterExec) node).condition());
            }
            if (node instanceof BaseJoinExec) {
                Option condition = ((BaseJoinExec) node).condition();
                return condition.isEmpty()
                    ? node : rewrite((SparkPlan) node, (Expression) condition.get());
            }
            return otherwise.apply(node);
        }
    };

    private static SparkPlan rewrite(SparkPlan node, Expression condition) {
        return (SparkPlan) node.mapExpressions(new Condition(condition));
    }

    /** Rewrites one expression of an operator: its condition. */
    private static final class Condition extends AbstractFunction1 {
        private final Expression condition;

        Condition(Expression condition) {
            this.condition = condition;
        }

        public Object apply(Object e) {
            return e == condition ? ((Expression) e).transformUp(COMPARISONS) : e;
        }
    }

    private static final AbstractPartialFunction COMPARISONS = new AbstractPartialFunction() {
        public boolean isDefinedAt(Object e) {
            return e instanceof BinaryComparison;
        }

        public Object applyOrElse(Object e, Function1 otherwise) {
            return e instanceof BinaryComparison
                ? ((Expression) e).mapChildren(OPERAND) : otherwise.apply(e);
        }
    };

    /** A non-null literal of a primitive-backed type, held by reference. */
    private static final AbstractFunction1 OPERAND = new AbstractFunction1() {
        public Object apply(Object e) {
            if (!(e instanceof Literal)) return e;
            Literal literal = (Literal) e;
            Object value = literal.value();
            String unbox = unboxer(literal.dataType());
            if (value == null || unbox == null) return e;
            return new Invoke(
                new Literal(value, new ObjectType(value.getClass())), unbox,
                literal.dataType(), Nil$.MODULE$, Nil$.MODULE$, true, true, true);
        }
    };

    /** The boxed value's method that returns a {@code type} value. */
    private static String unboxer(DataType type) {
        if (type.equals(DataTypes.IntegerType) || type.equals(DataTypes.DateType)) {
            return "intValue";
        }
        if (type.equals(DataTypes.LongType) || type.equals(DataTypes.TimestampType)
                || type.equals(DataTypes.TimestampNTZType)) {
            return "longValue";
        }
        if (type.equals(DataTypes.DoubleType)) return "doubleValue";
        if (type.equals(DataTypes.FloatType)) return "floatValue";
        return null;
    }
}
