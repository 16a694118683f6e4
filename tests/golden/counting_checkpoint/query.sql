SELECT deviceId, count(*) AS n, sum(temperature) AS s,
       max(ts) AS last_ts
FROM stream GROUP BY deviceId, CountingWindow(3)
WITH (TIMESTAMP='ts', TIMEUNIT='ms')
