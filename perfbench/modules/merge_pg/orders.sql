{{ sink(name='orders_enriched') }}
SELECT
    o.order_id,
    o.customer_id,
    c.region,
    c.tier,
    o.amount_cents * o.qty AS line_cents,
    CASE WHEN c.tier >= 3 THEN (o.amount_cents * o.qty * 9) DIV 10
         ELSE o.amount_cents * o.qty END AS net_cents,
    lower(o.status) AS status,
    row_number() OVER (PARTITION BY o.customer_id ORDER BY o.day, o.order_id) AS cust_seq,
    sum(o.amount_cents * o.qty) OVER (PARTITION BY o.customer_id) AS cust_total_cents
FROM {{ use_source('orders') }} o
JOIN {{ use_source('customers') }} c ON o.customer_id = c.customer_id
