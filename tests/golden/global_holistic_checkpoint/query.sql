SELECT deviceId, count(*) AS cnt, median(temperature) AS med, collect(status) AS statuses
FROM stream GROUP BY deviceId
GLOBAL WINDOW TRIGGER WHEN count(*) >= 4 OR sum(humidity) >= 10
WITH (TIMESTAMP='ts', TIMEUNIT='ms')
