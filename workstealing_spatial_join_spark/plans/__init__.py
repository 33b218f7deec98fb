"""Physical planning: the join plan decision + plan-quality audit."""
